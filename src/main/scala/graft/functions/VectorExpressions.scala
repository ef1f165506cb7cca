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
  * vectors pays interpreted lambda dispatch per element. This expression
  * generates a tight primitive loop via `doGenCode`, keeping the
  * crossJoin scoring stage inside whole-stage codegen. Semantics are
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

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i) && !$y.isNullAt($i)) {
         |    $acc += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
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
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var best = 0.0f
    var found = false
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) {
        val v = Math.abs(x.getFloat(i))
        if (!found || java.lang.Float.compare(v, best) > 0) { best = v; found = true }
      }
      i += 1
    }
    if (found) best else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val best = ctx.freshName("best")
      val found = ctx.freshName("found")
      val v = ctx.freshName("v")
      s"""
         |int $n = $x.numElements();
         |float $best = 0.0f;
         |boolean $found = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i)) {
         |    float $v = Math.abs($x.getFloat($i));
         |    if (!$found || java.lang.Float.compare($v, $best) > 0) { $best = $v; $found = true; }
         |  }
         |}
         |if ($found) { ${ev.value} = $best; } else { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen int8 quantization codes for an `array<float>` embedding:
  * `scale = maxAbs/127`, `q_i = clamp(round(x_i/scale), -127, 127)` as
  * tinyint — one primitive loop pair (max scan + code emit) instead of
  * four interpreted HOF passes. Exactly mirrors the HOF reference form
  * ([[graft.pipeline.Ann.quantizeInt8Hof]], parity-pinned by spec):
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

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var best = 0.0f
    var found = false
    var j = 0
    while (j < n) {
      if (!x.isNullAt(j)) {
        val v = Math.abs(x.getFloat(j))
        if (!found || java.lang.Float.compare(v, best) > 0) { best = v; found = true }
      }
      j += 1
    }
    val out = new Array[Any](n)
    if (!found || best == 0.0f || !java.lang.Float.isFinite(best)) {
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val best = ctx.freshName("best")
      val found = ctx.freshName("found")
      val v = ctx.freshName("v")
      val out = ctx.freshName("out")
      val scale = ctx.freshName("scale")
      val r = ctx.freshName("r")
      val m = ctx.freshName("m")
      s"""
         |int $n = $x.numElements();
         |float $best = 0.0f;
         |boolean $found = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i)) {
         |    float $v = Math.abs($x.getFloat($i));
         |    if (!$found || java.lang.Float.compare($v, $best) > 0) { $best = $v; $found = true; }
         |  }
         |}
         |Object[] $out = new Object[$n];
         |if (!$found || $best == 0.0f || !java.lang.Float.isFinite($best)) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$x.isNullAt($i)) { $out[$i] = java.lang.Byte.valueOf((byte) 0); }
         |  }
         |} else {
         |  float $scale = (float) (((double) $best) / 127.0d);
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$x.isNullAt($i)) {
         |      double $r = ((double) $x.getFloat($i)) / ((double) $scale);
         |      double $m = Math.floor(Math.abs($r) + 0.5d);
         |      if ($r < 0) { $m = -$m; }
         |      $out[$i] = java.lang.Byte.valueOf((byte) Math.max(-127.0d, Math.min(127.0d, $m)));
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
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
