package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Whole-stage-codegen JSON renderer for violation `actual` strings —
  * replaces `to_json`, the last CodegenFallback in the violation
  * emission path (round-3 verdict: ~18% of emission cost interpreted).
  *
  * Byte-identical to `to_json` for the supported type tree (pinned by
  * JsonRenderSpec parity tests and the v_arrays/v_maps/v_structs
  * oracle gates): struct fields in schema order with null fields
  * OMITTED, map entries in map order with null values rendered as
  * `null`, array null elements as `null`, Jackson's default string
  * escaping (`"` `\` and control chars only — no unicode escaping of
  * non-ASCII), `Double.toString`/`Float.toString` number rendering
  * (Jackson's default non-fast writer). Types outside [[JsonRender
  * .supports]] (timestamps, decimals, binary, non-string map keys)
  * keep using `to_json` — the compiler chooses per column type.
  *
  * The renderer is one Scala function, [[JsonRender.render]], walking
  * the value along its DataType: `nullSafeEval` runs it and the
  * generated code calls it, with the DataType passed by reference, so
  * the interpreted and generated paths cannot drift apart.
  */
case class JsonRender(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (JsonRender.supports(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"json_render does not support ${child.dataType.simpleString} (use to_json)")

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "json_render"

  override def nullSafeEval(input: Any): Any = JsonRender.render(input, child.dataType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dt = ctx.addReferenceObj("dataType", child.dataType, classOf[DataType].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = graft.functions.JsonRender.render($v, $dt);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object JsonRender {

  /** The type tree this renderer reproduces byte-for-byte vs to_json. */
  def supports(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType => true
    case ArrayType(et, _) => supports(et)
    case MapType(StringType, vt, _) => supports(vt)
    case st: StructType => st.fields.forall(f => supports(f.dataType))
    case _ => false
  }

  /** The JSON text of a non-null value of type `dt`. */
  def render(v: Any, dt: DataType): UTF8String = {
    val sb = new java.lang.StringBuilder(64)
    renderValue(sb, v, dt)
    UTF8String.fromString(sb.toString)
  }

  private def renderValue(sb: java.lang.StringBuilder, v: Any, dt: DataType): Unit =
    dt match {
      case StringType => appendEscaped(sb, v.asInstanceOf[UTF8String])
      case BooleanType | ByteType | ShortType | IntegerType | LongType =>
        sb.append(v.toString); ()
      case FloatType => appendFloat(sb, v.asInstanceOf[Float])
      case DoubleType => appendDouble(sb, v.asInstanceOf[Double])
      case ArrayType(et, _) =>
        val arr = v.asInstanceOf[ArrayData]
        sb.append('[')
        var i = 0
        while (i < arr.numElements()) {
          if (i > 0) sb.append(',')
          if (arr.isNullAt(i)) sb.append("null")
          else renderValue(sb, arr.get(i, et), et)
          i += 1
        }
        sb.append(']'); ()
      case MapType(StringType, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val ks = m.keyArray(); val vs = m.valueArray()
        sb.append('{')
        var i = 0
        while (i < m.numElements()) {
          if (i > 0) sb.append(',')
          appendEscaped(sb, ks.getUTF8String(i))
          sb.append(':')
          if (vs.isNullAt(i)) sb.append("null")
          else renderValue(sb, vs.get(i, vt), vt)
          i += 1
        }
        sb.append('}'); ()
      case st: StructType =>
        val row = v.asInstanceOf[InternalRow]
        sb.append('{')
        var first = true
        var i = 0
        while (i < st.length) {
          if (!row.isNullAt(i)) { // to_json omits null struct fields
            if (!first) sb.append(',')
            first = false
            appendEscaped(sb, UTF8String.fromString(st.fields(i).name))
            sb.append(':')
            renderValue(sb, row.get(i, st.fields(i).dataType), st.fields(i).dataType)
          }
          i += 1
        }
        sb.append('}'); ()
      case other => throw new IllegalStateException(s"unsupported: $other")
    }

  /** Non-finite floats match Jackson's default QUOTE_NON_NUMERIC_NUMBERS:
    * NaN / Infinity / -Infinity are rendered as quoted STRINGS (verified
    * against to_json; unquoted tokens would also be invalid JSON).
    */
  def appendDouble(sb: java.lang.StringBuilder, v: Double): Unit = {
    val s = java.lang.Double.toString(v)
    if (java.lang.Double.isFinite(v)) { sb.append(s); () }
    else { sb.append('"').append(s).append('"'); () }
  }

  def appendFloat(sb: java.lang.StringBuilder, v: Float): Unit = {
    val s = java.lang.Float.toString(v)
    if (java.lang.Float.isFinite(v)) { sb.append(s); () }
    else { sb.append('"').append(s).append('"'); () }
  }

  /** Jackson-default JSON string escaping: quote, backslash, and the
    * C0 controls (with the five short forms); everything else raw.
    * Iterates UTF-8 bytes — multi-byte sequences are all >= 0x80 and
    * pass through untouched, so no decode is needed.
    */
  def appendEscaped(sb: java.lang.StringBuilder, s: UTF8String): Unit = {
    sb.append('"')
    val str = s.toString
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      (c: @annotation.switch) match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\f' => sb.append("\\f")
        case '\r' => sb.append("\\r")
        case _ =>
          // Jackson renders control chars with UPPERCASE hex ()
          if (c < 0x20) sb.append(f"\\u${c.toInt}%04X")
          else sb.append(c)
      }
      i += 1
    }
    sb.append('"'); ()
  }
}
