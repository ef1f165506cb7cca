package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Custom Catalyst expression for the ANN hot kernel: dot product of two
  * `array<float>` columns accumulated in double precision.
  *
  * Why a custom Expression (SURVEY.md §4 / design-brief preference
  * order): Spark's higher-order array functions (`zip_with` +
  * `aggregate`) express this but are CodegenFallback — every pair of
  * vectors pays interpreted lambda dispatch per element. This expression's
  * kernel is one primitive loop, [[FloatVecDot.dot]], which `nullSafeEval`
  * runs and the generated code calls, keeping the crossJoin scoring
  * stage inside whole-stage codegen. Semantics are
  * identical to the HOF form (sequential left-to-right double
  * accumulation — bit-for-bit the same sums, pinned by tests), so the
  * DuckDB oracle for `ann_cosine_topk` is unaffected.
  *
  * Null behavior: null if either array is null (NullIntolerant-style);
  * null ELEMENTS contribute 0 (treated as missing dimensions).
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def okType(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (okType(left.dataType) && okType(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_vec_dot needs two array<float> inputs, got ${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "float_vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    FloatVecDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => s"${ev.value} = graft.functions.FloatVecDot.dot($x, $y);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FloatVecDot {
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }
}

/** max(|x_i|) over the non-null elements of an `array<float>`, null when
  * there are none — the codegen replacement for
  * `array_max(transform(arr, abs))` (two interpreted HOFs) in the int8
  * quantization path. Element ordering matches Spark's float ordering
  * (`java.lang.Float.compare`: NaN greatest), so results are identical
  * to the HOF form on every input.
  */
case class FloatVecMaxAbs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"float_vec_max_abs needs array<float> input, got ${other.simpleString}")
  }
  override def dataType: DataType = FloatType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "float_vec_max_abs"

  override def nullSafeEval(a: Any): Any = {
    val m = FloatVecMaxAbs.maxAbs(a.asInstanceOf[ArrayData])
    if (m < 0) null else m
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.FloatVecMaxAbs.maxAbs($x); ${ev.isNull} = ${ev.value} < 0;")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FloatVecMaxAbs {
  /** max(|x_i|) over the non-null elements, or -1 when there are none
    * (every |x_i| is >= 0 or NaN, and NaN compares above -1 too).
    */
  def maxAbs(x: ArrayData): Float = {
    val n = x.numElements()
    var best = -1.0f
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) {
        val v = Math.abs(x.getFloat(i))
        if (java.lang.Float.compare(v, best) > 0) best = v
      }
      i += 1
    }
    best
  }
}

/** Codegen int8 quantization codes for an `array<float>` embedding:
  * `scale = maxAbs/127`, `q_i = clamp(round(x_i/scale), -127, 127)` as
  * tinyint — one primitive loop pair ([[FloatVecMaxAbs.maxAbs]], then
  * the code emit in [[QuantizeInt8Codes.codes]]) instead of four
  * interpreted HOF passes. Exactly mirrors the HOF reference form
  * (kept in `PipelineSpec`, which pins the parity):
  * null elements stay NULL in every branch (a missing dimension stays
  * missing); an absent, zero, or NON-FINITE maxAbs (empty/all-null/
  * zero vector, or any NaN/Inf element poisoning the max) degenerates
  * to all-zero codes — the scale column still carries the null/0/NaN/
  * Inf marker, so callers can detect the degenerate vectors.
  *
  * Rounding is HALF-UP away from zero like Spark's `round`:
  * `floor(|v|+0.5)` with the sign reapplied. This is exactly the
  * BigDecimal HALF_UP rule on this kernel's input domain: v is a
  * float/float quotient widened to double, and such a quotient
  * `a/b` (24-bit significands) is either an exact half-integer tie
  * (handled: away from zero) or at least `1/(2b) > 2^-26` away from
  * one, while the `|v|+0.5` addition error is at most `2^-45` at
  * |v|<=127.5 — too small to cross a rounding boundary, so the fast
  * form cannot misround where BigDecimal would not.
  */
case class QuantizeInt8Codes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantize_int8_codes needs array<float> input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(ByteType, containsNull = true)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "quantize_int8_codes"

  override def nullSafeEval(a: Any): Any = QuantizeInt8Codes.codes(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = graft.functions.QuantizeInt8Codes.codes($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QuantizeInt8Codes {
  def codes(x: ArrayData): ArrayData = {
    val n = x.numElements()
    val best = FloatVecMaxAbs.maxAbs(x)
    val out = new Array[Any](n)
    if (best <= 0.0f || !java.lang.Float.isFinite(best)) {
      // degenerate scale (empty/all-null/zero vector, or any non-finite
      // element poisoning maxAbs): all-zero codes, null elements STAY
      // null — a missing dimension must stay missing in every branch
      var i = 0
      while (i < n) { if (!x.isNullAt(i)) out(i) = 0.toByte; i += 1 }
    } else {
      val scale = (best.toDouble / 127.0).toFloat
      var i = 0
      while (i < n) {
        if (!x.isNullAt(i)) {
          val r = x.getFloat(i).toDouble / scale.toDouble
          val rounded = { val m = Math.floor(Math.abs(r) + 0.5d); if (r < 0) -m else m }
          out(i) = Math.max(-127d, Math.min(127d, rounded)).toByte
        }
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object VectorFunctions {
  import org.apache.spark.sql.GraftSqlBridge
  def floatVecDot(a: Column, b: Column): Column =
    GraftSqlBridge.column(FloatVecDot(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  def floatVecMaxAbs(a: Column): Column =
    GraftSqlBridge.column(FloatVecMaxAbs(GraftSqlBridge.expression(a)))

  def quantizeInt8Codes(a: Column): Column =
    GraftSqlBridge.column(QuantizeInt8Codes(GraftSqlBridge.expression(a)))
}
