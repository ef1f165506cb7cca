package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling hash of a string's UTF-8 bytes (Rabin–Karp form):
  * `h_{i+1} = (31 * h_i + byte_i) mod 1_000_000_007`, h_0 = 0.
  *
  * A rolling fingerprint is the classic cheap document identity for
  * dedup pipelines (reference point: content-defined chunking uses the
  * same hash family). The kernel is one Scala function,
  * [[RollingHash.hash]] (a byte loop over the UTF8String, no string
  * copy): `nullSafeEval` runs it and the generated code calls it, so the
  * expression stays inside whole-stage codegen at scan throughput.
  * All arithmetic stays below 2^63 (h < 1e9+7, 31*h + 255 < 2^35), so
  * the value is reproducible in any engine with 64-bit integers.
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | NullType => TypeCheckResult.TypeCheckSuccess // null in -> null out
    case other => TypeCheckResult.TypeCheckFailure(
      s"rolling_hash needs a string input, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(input: Any): Any = RollingHash.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = graft.functions.RollingHash.hash($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHash {
  def hash(s: UTF8String): Long = {
    val n = s.numBytes()
    var h = 0L
    var i = 0
    while (i < n) {
      h = (h * 31L + (s.getByte(i) & 0xffL)) % 1000000007L
      i += 1
    }
    h
  }
}

object TextFunctions {
  import org.apache.spark.sql.GraftSqlBridge
  def rollingHash(c: Column): Column =
    GraftSqlBridge.column(RollingHash(GraftSqlBridge.expression(c)))
}
