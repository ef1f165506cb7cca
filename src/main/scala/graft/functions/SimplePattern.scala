package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compile-time fast path for the validation engine's hottest regexes.
  *
  * JSON-Schema `pattern` constraints are usually tiny anchored shapes
  * (`^c[0-9]+$`, `^[a-z][a-z0-9_]*$`). Spark's `RLike` runs
  * java.util.regex per row, which costs a UTF8String->String copy plus
  * matcher allocation — measured ~45% of the whole fused validation
  * pass. [[SimplePattern.compile]] recognizes a safe subset:
  *
  *   ^ (literal-char | [class] [+*]?)+ $
  *
  * with ASCII-only literals/classes (ranges + chars, no negation, no
  * escapes, no `&&` intersection or nested `[`), and greedy quantifiers
  * ONLY where greedy matching cannot require backtracking. Anything else
  * returns None and the caller uses `rlike` — so the fast path can never
  * change semantics. ASCII-only patterns make byte-wise UTF8String
  * matching exact: any multi-byte character has its high bit set and
  * matches no ASCII literal/class, exactly like java.util.regex.
  *
  * A compiled pattern is one token table (a 128-entry membership set
  * and a quantifier per token; a literal is a one-char set). Interpreted
  * eval and generated code both call [[SimplePattern.matches]] on it.
  */
final class SimplePattern private (sets: Array[Array[Boolean]], quants: Array[Char])
    extends Serializable {

  /** Greedy match of the token table over the string's bytes, read in
    * place; `$` is java's rule ([[FormatMatchers.stripFinalTerminator]]).
    */
  def matches(s: UTF8String): Boolean = {
    val n = s.numBytes()
    var pos = 0
    var t = 0
    while (t < quants.length) {
      val set = sets(t)
      if (quants(t) != '*') { // '1' or '+': one byte required
        if (pos >= n || !SimplePattern.in(set, s.getByte(pos))) return false
        pos += 1
      }
      if (quants(t) != '1') while (pos < n && SimplePattern.in(set, s.getByte(pos))) pos += 1
      t += 1
    }
    pos == n || pos == FormatMatchers.stripFinalTerminator(s)
  }
}

object SimplePattern {

  private def in(set: Array[Boolean], b: Byte): Boolean = b >= 0 && set(b)

  def compile(pattern: String): Option[SimplePattern] = {
    if (!pattern.startsWith("^") || !pattern.endsWith("$") || pattern.length < 2) return None
    val body = pattern.substring(1, pattern.length - 1)
    if (body.contains("$") || body.isEmpty) return None
    val sets = scala.collection.mutable.ArrayBuffer.empty[Array[Boolean]]
    val quants = scala.collection.mutable.ArrayBuffer.empty[Char]
    var i = 0
    while (i < body.length) {
      val set = new Array[Boolean](128)
      body.charAt(i) match {
        case '[' =>
          val close = body.indexOf(']', i + 1)
          if (close < 0) return None
          val inner = body.substring(i + 1, close)
          // java.util.regex reads `&&` in a class as an intersection and
          // `[` as a nested class
          if (inner.isEmpty || inner.startsWith("^") || inner.contains("&&") ||
            inner.exists(c => c >= 128 || c == '\\' || c == '[')) return None
          var j = 0
          while (j < inner.length) {
            val c = inner.charAt(j)
            if (j + 2 < inner.length && inner.charAt(j + 1) == '-') {
              val hi = inner.charAt(j + 2)
              if (hi < c) return None
              (c to hi).foreach(ch => set(ch) = true)
              j += 3
            } else { set(c) = true; j += 1 }
          }
          i = close + 1
        case c if "\\.*+?()|{}^".contains(c) => return None // meta outside class
        case c if c < 128 => set(c) = true; i += 1
        case _ => return None
      }
      val quant = if (i < body.length && (body.charAt(i) == '+' || body.charAt(i) == '*')) {
        i += 1; body.charAt(i - 1)
      } else '1'
      sets += set
      quants += quant
    }
    // greedy matching needs no backtracking when every quantified token
    // is last or a '+' disjoint from the next token's set ('*' is
    // skippable, so only allowed last), and holds no '\r': java's `$`
    // could take a '\r' back from a run to match before a final "\r\n"
    val last = sets.length - 1
    val greedyExact = (0 to last).forall { t =>
      quants(t) == '1' || (!sets(t)('\r') &&
        (t == last || (quants(t) == '+' && (0 until 128).forall(c => !(sets(t)(c) && sets(t + 1)(c))))))
    }
    if (greedyExact) Some(new SimplePattern(sets.toArray, quants.toArray)) else None
  }
}

/** Anchored simple-pattern match inside whole-stage codegen: the
  * compiled [[SimplePattern]] is built once per expression and handed
  * to the generated code by reference, so both eval paths run the same
  * matcher — no String copy, no java.util.regex.
  */
case class SimplePatternMatch(child: Expression, pattern: String)
    extends UnaryExpression {

  @transient private lazy val matcher: SimplePattern =
    SimplePattern.compile(pattern)
      .getOrElse(throw new IllegalArgumentException(s"unsupported simple pattern: $pattern"))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"simple_pattern needs string input, got ${child.dataType.simpleString}")

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simple_pattern"

  override def nullSafeEval(v: Any): Any = matcher.matches(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("simplePattern", matcher)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $m.matches($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimplePatternMatch {
  /** Column for `pattern` if the fast path supports it. */
  def tryColumn(c: Column, pattern: String): Option[Column] =
    SimplePattern.compile(pattern).map { _ =>
      org.apache.spark.sql.GraftSqlBridge.column(
        SimplePatternMatch(org.apache.spark.sql.GraftSqlBridge.expression(c), pattern))
    }
}
