package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-loop implementations of the validator's format regexes —
  * EXACTLY equivalent to `RLIKE` with the java.util.regex patterns they
  * replace (FormatMatchersSpec property-fuzzes each against
  * `Pattern.find` on adversarial inputs). Regex matching was the
  * dominant per-row cost of the format family (measured per format via
  * single-format schemas at sf0.1: email ~0.45 s, ipv4 ~0.5 s,
  * hostname ~0.65 s of v_formats' ~2.9 s); these loops run at
  * scan-throughput inside whole-stage codegen like
  * [[SimplePattern]] / [[RollingHash]].
  *
  * Equivalence notes (the subtle java.regex semantics reproduced here):
  *  - `$` (MULTILINE off) matches at end of input OR before one FINAL
  *    line terminator (`\n`, `\r\n`, `\r`, U+0085, U+2028, U+2029) —
  *    [[stripFinalTerminator]] implements exactly that rule; patterns
  *    without `$` (uri) must NOT strip.
  *  - `\s` is ASCII-only (`[ \t\n\x0B\f\r]`); every byte of a multibyte
  *    UTF-8 character is >= 0x80, so byte-wise class tests agree with
  *    char-wise ones for all ASCII-defined classes.
  *  - the hostname lookahead `(?=.{1,253}$)` counts CHARS, but any
  *    non-ASCII char already fails the label classes, so for every
  *    string that could match, bytes == chars.
  */
object FormatMatchers {

  /** Length after removing one final line terminator, per java `$`. */
  def stripFinalTerminator(s: UTF8String): Int = {
    val n = s.numBytes()
    if (n == 0) return 0
    val last = s.getByte(n - 1)
    if (last == '\n') {
      if (n >= 2 && s.getByte(n - 2) == '\r') n - 2 else n - 1 // \r\n or \n
    } else if (last == '\r') n - 1
    else if ((last & 0xff) == 0x85 && n >= 2 && (s.getByte(n - 2) & 0xff) == 0xc2) n - 2 // U+0085
    else if (((last & 0xff) == 0xa8 || (last & 0xff) == 0xa9) && n >= 3 &&
      (s.getByte(n - 3) & 0xff) == 0xe2 && (s.getByte(n - 2) & 0xff) == 0x80) n - 3 // U+2028/9
    else n
  }

  private def isWs(b: Byte): Boolean = // java \s: [ \t\n\x0B\f\r]
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  private def isAlnum(b: Byte): Boolean =
    (b >= '0' && b <= '9') || (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')

  /** Length after removing one final `\n`, `\r\n` or `\r` ONLY — for
    * patterns whose trailing class can itself consume the unicode line
    * terminators: U+0085/U+2028/U+2029 are line terminators for `$` but
    * are NOT in java `\s`, so `[^@\s]+$` can match them as content
    * (backtracking tries both; consuming succeeds whenever stripping
    * would, and also when the "terminator" is mid-tail). `\n`/`\r` are
    * in `\s`, so for them only the strip interpretation can match.
    */
  def stripCrLf(s: UTF8String): Int = {
    val n = s.numBytes()
    if (n == 0) return 0
    val last = s.getByte(n - 1)
    if (last == '\n') {
      if (n >= 2 && s.getByte(n - 2) == '\r') n - 2 else n - 1
    } else if (last == '\r') n - 1
    else n
  }

  /** `^[^@\s]+@[^@\s]+\.[^@\s]+$` — no whitespace, exactly one `@` not
    * at either end, and a `.` in the tail at relative position
    * [1, tailLen-2] (the middle and last parts both non-empty).
    * Terminator rule: [[stripCrLf]] (the tail class consumes the
    * unicode terminators itself).
    */
  def email(s: UTF8String): Boolean = {
    val n = stripCrLf(s)
    if (n == 0) return false
    var at = -1
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (isWs(b)) return false
      if (b == '@') {
        if (at >= 0) return false // a second @ can satisfy no class
        at = i
      }
      i += 1
    }
    if (at <= 0 || at >= n - 1) return false
    var d = at + 2 // dot needs >=1 char after '@' and >=1 char after itself
    while (d <= n - 2) {
      if (s.getByte(d) == '.') return true
      d += 1
    }
    false
  }

  /** `^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$`
    * — exactly four dot-separated octets; an octet is 1-2 digits (any),
    * or 3 digits constrained to <= 255 with a 0/1/2 lead (the regex
    * admits leading zeros like `013` and `001`).
    */
  def ipv4(s: UTF8String): Boolean = {
    val n = stripFinalTerminator(s)
    var i = 0
    var parts = 0
    while (parts < 4) {
      val start = i
      while (i < n && isDigit(s.getByte(i))) i += 1
      val len = i - start
      if (len < 1 || len > 3) return false
      if (len == 3) {
        val d0 = s.getByte(start); val d1 = s.getByte(start + 1); val d2 = s.getByte(start + 2)
        val ok = (d0 == '0' || d0 == '1') ||
          (d0 == '2' && d1 >= '0' && d1 <= '4') ||
          (d0 == '2' && d1 == '5' && d2 >= '0' && d2 <= '5')
        if (!ok) return false
      }
      parts += 1
      if (parts < 4) {
        if (i >= n || s.getByte(i) != '.') return false
        i += 1
      }
    }
    i == n
  }

  /** `^(?=.{1,253}$)[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?(\.[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?)*$`
    * — total length 1-253, dot-separated labels of 1-63 chars from
    * `[A-Za-z0-9-]` whose first and last char are alphanumeric.
    */
  def hostname(s: UTF8String): Boolean = {
    val n = stripFinalTerminator(s)
    if (n < 1 || n > 253) return false
    var i = 0
    while (i < n) {
      val start = i
      while (i < n && s.getByte(i) != '.') {
        val b = s.getByte(i)
        if (!isAlnum(b) && b != '-') return false
        i += 1
      }
      val len = i - start
      if (len < 1 || len > 63) return false
      if (!isAlnum(s.getByte(start)) || !isAlnum(s.getByte(i - 1))) return false
      if (i < n) { // skip the dot; a trailing dot means an empty last label
        i += 1
        if (i == n) return false
      }
    }
    true
  }

  /** `^[A-Za-z][A-Za-z0-9+.-]*:` — NO trailing anchor, so no
    * terminator stripping: an alpha head, a scheme-charset run, then a
    * colon anywhere.
    */
  def uri(s: UTF8String): Boolean = {
    val n = s.numBytes()
    if (n == 0) return false
    val b0 = s.getByte(0)
    if (!((b0 >= 'A' && b0 <= 'Z') || (b0 >= 'a' && b0 <= 'z'))) return false
    var i = 1
    while (i < n) {
      val b = s.getByte(i)
      if (b == ':') return true
      if (!(isAlnum(b) || b == '+' || b == '.' || b == '-')) return false
      i += 1
    }
    false
  }

  /** `^[0-9A-Fa-f:.]+$` (the companion `contains ':'` conjunct stays a
    * separate built-in in the caller).
    */
  def ipv6Charset(s: UTF8String): Boolean = {
    val n = stripFinalTerminator(s)
    if (n == 0) return false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      val ok = isDigit(b) || (b >= 'A' && b <= 'F') || (b >= 'a' && b <= 'f') ||
        b == ':' || b == '.'
      if (!ok) return false
      i += 1
    }
    true
  }

  val methods: Map[String, UTF8String => Boolean] = Map(
    "email" -> email,
    "ipv4" -> ipv4,
    "hostname" -> hostname,
    "uri" -> uri,
    "ipv6charset" -> ipv6Charset)
}

/** Codegen wrapper: `format_match(str, 'email')` — the matching
  * [[FormatMatchers.methods]] function is handed to the generated code
  * by reference, so eval and whole-stage codegen call the same byte
  * loop (null in -> null out, like `rlike`).
  */
case class FormatMatch(child: Expression, fmt: String) extends UnaryExpression {
  require(FormatMatchers.methods.contains(fmt), s"unknown format matcher: $fmt")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | NullType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"format_match needs a string input, got ${other.simpleString}")
  }
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"format_match_$fmt"

  private val fn = FormatMatchers.methods(fmt)
  override def nullSafeEval(input: Any): Any = fn(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = ctx.addReferenceObj("formatMatcher", fn, "scala.Function1")
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = ((java.lang.Boolean) $f.apply($s)).booleanValue();")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FormatMatch {
  def apply(c: Column, fmt: String): Column =
    GraftSqlBridge.column(FormatMatch(GraftSqlBridge.expression(c), fmt))
}
