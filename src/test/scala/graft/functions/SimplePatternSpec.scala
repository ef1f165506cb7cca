package graft.functions

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The simple-pattern fast path must be EXACTLY equivalent to rlike on
  * every supported pattern (tested over generated adversarial strings),
  * and must refuse anything it cannot match byte-exactly.
  */
class SimplePatternSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark

  private val supported = Seq(
    "^c[0-9]+$", "^[a-z][a-z0-9_]*$", "^[A-Za-z0-9]+$", "^abc$",
    "^x[0-5]y$", "^[0-9]+[a-f]+$", "^k[_-]v$")

  private val unsupported = Seq(
    "^c[0-9]+", "c[0-9]+$", "^(a|b)$", "^a.b$", "^a\\d+$", "^[^a]+$",
    "^a{2,3}$", "^[0-9]*[0-9]$", "^[0-9]*x$", "^[a-z]+[a-z]$", "",
    // java.util.regex reads these classes as an intersection, a nested
    // class and an escaped `]`; a quantified CR can be given back to `$`
    "^[a&&b]$", "^[a[b]]$", "^[!-\\]x]$", "^[a\r]+$", "^a\r*$")

  "SimplePattern.compile" should "accept the supported subset and refuse the rest" in {
    supported.foreach { p => withClue(p) { SimplePattern.compile(p).isDefined shouldBe true } }
    unsupported.foreach { p => withClue(p) { SimplePattern.compile(p) shouldBe None } }
  }

  it should "match exactly like java regex on generated strings (interpreted path)" in {
    val gen = org.scalacheck.Gen.listOf(org.scalacheck.Gen.oneOf(
      org.scalacheck.Gen.alphaNumChar,
      org.scalacheck.Gen.oneOf('c', '_', '-', ' ', '~', 'é', '0', '9', 'a', 'z', 'A', 'Z')))
      .map(_.mkString)
    val seed0 = org.scalacheck.rng.Seed(7L)
    val strings = Iterator.iterate(seed0)(_.next).take(2000)
      .map(gen.pureApply(org.scalacheck.Gen.Parameters.default, _)).toSeq ++
      Seq("", "c", "c1", "c12x", "Ω9", "a_b", "k_v", "k-v", "00aa", "0a0a")
    supported.foreach { p =>
      val m = SimplePattern.compile(p).get
      val re = p.r
      strings.foreach { s =>
        withClue(s"pattern=$p input=${s.take(40)}: ") {
          m.matches(org.apache.spark.unsafe.types.UTF8String.fromString(s)) shouldBe
            re.findFirstIn(s).isDefined
        }
      }
    }
  }

  it should "agree with java regex on trailing line terminators ($ before a final terminator)" in {
    // java.util.regex '$' (no MULTILINE) also matches just before one
    // FINAL terminator, but never between "\r" and "\n": the fast path
    // must not flip "c1\n" to false, nor "a\r\n" under `^a\r$` to true
    val cases = Seq("c1\n", "c1\r", "c1\r\n", "c1", "c1\u0085", "c1\u2028",
      "c1\u2029", "c1\n\n", "c1\nx", "c1x\n", "\n", "c\n1",
      "a\r\n", "a\r", "a\r\r", "a\r\r\n", "a\n")
    Seq("^c[0-9]+$", "^a\r$").foreach { p =>
      val m = SimplePattern.compile(p).get
      val re = p.r
      cases.foreach { s =>
        withClue(s"pattern=${p.replace("\r", "\\r")} input=${s.map(c => f"\\u${c.toInt}%04x").mkString}: ") {
          m.matches(org.apache.spark.unsafe.types.UTF8String.fromString(s)) shouldBe
            re.findFirstIn(s).isDefined
        }
      }
    }
  }

  it should "match exactly like rlike through codegen on a DataFrame" in {
    import spark.implicits._
    val strings = Seq("", "c", "c1", "c123456", "c12x", "z9", "operator", "a_b9", "A", "9",
      "web_search", "Bad-Tool", "rogue_tool", "k_v", "k-v", "x3y", "x9y", "éc1",
      "c1\n", "c1\r\n", "c12\n\n", "ok\n")
    // localCheckpoint: a literal table would fold the projection into a
    // LocalRelation and evaluate it interpreted
    val df = strings.toDF("s").localCheckpoint()
    df.select(SimplePatternMatch.tryColumn(col("s"), supported.head).get)
      .queryExecution.executedPlan.toString should include("*(")
    supported.foreach { p =>
      val fast = df.select(SimplePatternMatch.tryColumn(col("s"), p).get.as("m")).collect().map(_.getBoolean(0))
      val slow = df.select(col("s").rlike(p).as("m")).collect().map(_.getBoolean(0))
      withClue(p) { fast.toSeq shouldBe slow.toSeq }
    }
  }

  it should "give rlike's verdict on `&&`, nested and escaped classes and a quantified CR" in {
    import spark.implicits._
    // the call sites' shape: the fast path when it compiles, else rlike
    val strings = Seq("&", "a", "b", "]", "[", "x", "ab", "\r", "\r\n", "a\r\n", "a\r", "")
    val df = strings.toDF("s").localCheckpoint()
    Seq("^[a&&b]$", "^[a[b]]$", "^[!-\\]x]$", "^[a\r]+$", "^a\r*$").foreach { p =>
      val verdict = SimplePatternMatch.tryColumn(col("s"), p).getOrElse(col("s").rlike(p))
      val got = df.select(verdict).collect().map(_.getBoolean(0))
      val slow = df.select(col("s").rlike(p)).collect().map(_.getBoolean(0))
      withClue(p) { got.toSeq shouldBe slow.toSeq }
    }
  }
}
