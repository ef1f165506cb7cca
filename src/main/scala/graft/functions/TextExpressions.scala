package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
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

/** Word n-grams of a token array: each run of `n` consecutive tokens,
  * joined by one space, in order. A token array shorter than `n` yields
  * one gram, its tokens joined (so a short document still has a shingle
  * set). Null tokens are skipped: a run that holds one yields no gram,
  * and the short-array gram joins only the non-null tokens. Null array
  * in, null out.
  *
  * This is the shingle rule of [[graft.pipeline.Dedup.shingles]], which
  * feeds it Spark's own `split(trim(lower(text)), '\\s+')`. The kernel
  * is one byte loop, [[WordGrams.foreachGram]]: `nullSafeEval` runs
  * [[WordGrams.grams]] and the generated code calls it, where the
  * `zip_with`/`filter` form it replaces ran interpreted lambdas per
  * token.
  */
case class WordGrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"word gram size must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_grams needs array<string> input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_grams"

  override def nullSafeEval(tokens: Any): Any = WordGrams.grams(tokens.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = graft.functions.WordGrams.grams($t, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordGrams {
  def grams(tokens: ArrayData, n: Int): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    // fromBytes wraps its array, so each gram takes a copy of the buffer
    foreachGram(tokens, n)((buf, len) => out += UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len)))
    new GenericArrayData(out.toArray[Any])
  }

  /** Calls `f(buf, len)` once per gram of [[WordGrams]], in order: the
    * gram's UTF-8 bytes are `buf[0, len)`, which the next call
    * overwrites.
    */
  private[functions] def foreachGram(tokens: ArrayData, n: Int)(f: (Array[Byte], Int) => Unit): Unit = {
    val m = tokens.numElements()
    val toks = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      if (!tokens.isNullAt(i)) toks(i) = tokens.getUTF8String(i)
      i += 1
    }
    var buf = new Array[Byte](64)
    // the non-null tokens of [from, until), space-joined into buf
    def join(from: Int, until: Int): Int = {
      var len = 0
      var first = true
      var j = from
      while (j < until) {
        val t = toks(j)
        if (t != null) {
          val need = len + 1 + t.numBytes()
          if (need > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(need, 2 * buf.length))
          if (!first) { buf(len) = ' '; len += 1 }
          t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
          len += t.numBytes()
          first = false
        }
        j += 1
      }
      len
    }
    if (m < n) {
      val len = join(0, m)
      f(buf, len)
    } else {
      var start = 0
      while (start + n <= m) {
        if (!hasNull(toks, start, start + n)) {
          val len = join(start, start + n)
          f(buf, len)
        }
        start += 1
      }
    }
  }

  private def hasNull(toks: Array[UTF8String], from: Int, until: Int): Boolean = {
    var j = from
    while (j < until && toks(j) != null) j += 1
    j < until
  }
}

/** `k` MinHash slots over the word n-grams of a token array
  * ([[WordGrams]]'s rule): slot `s` is the minimum over the grams of
  * Spark's `xxhash64(gram, s)`, bit for bit — the gram's bytes hashed
  * with XXH64 under seed 42, then the int `s` hashed into that. Each
  * gram's bytes are hashed once, and the `k` slots cost one `hashInt`
  * each. Null array in, null out; an array that yields no gram (only
  * possible with null tokens) gives null too, as `min` over no rows.
  *
  * This replaces an explode of every document into one row per gram
  * and a `k`-column `min` aggregation: one pass per document, no
  * shuffle.
  */
case class MinHashSignature(child: Expression, n: Int, k: Int) extends UnaryExpression {
  require(n >= 1, s"word gram size must be >= 1, got $n")
  require(k >= 1, s"minhash slot count must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature needs array<string> input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(tokens: Any): Any =
    MinHashSignature.signature(tokens.asInstanceOf[ArrayData], n, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.MinHashSignature.signature($t, $n, $k); ${ev.isNull} = ${ev.value} == null;")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  /** Seed of Spark's `xxhash64`. */
  private val SparkSeed = 42L

  def signature(tokens: ArrayData, n: Int, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    var grams = 0
    WordGrams.foreachGram(tokens, n) { (buf, len) =>
      val h = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, SparkSeed)
      var s = 0
      while (s < k) {
        val v = XXH64.hashInt(s, h)
        if (v < mins(s)) mins(s) = v
        s += 1
      }
      grams += 1
    }
    if (grams == 0) null else UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

object TextFunctions {
  import org.apache.spark.sql.GraftSqlBridge
  def rollingHash(c: Column): Column =
    GraftSqlBridge.column(RollingHash(GraftSqlBridge.expression(c)))

  def wordGrams(tokens: Column, n: Int): Column =
    GraftSqlBridge.column(WordGrams(GraftSqlBridge.expression(tokens), n))

  def minhashSignature(tokens: Column, n: Int, k: Int): Column =
    GraftSqlBridge.column(MinHashSignature(GraftSqlBridge.expression(tokens), n, k))
}
