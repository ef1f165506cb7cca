package graft.exprs

import java.util.regex.Pattern
import org.json4s._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkTestBase
import graft.compile.{Js, TableSchemaCompiler}

/** Generated column schemas and rows against a draft-4 evaluator of the
  * scalar keywords, written here from the specification.
  *
  * A case is one column schema: one keyword of the number or string
  * family, a `format` or an `enum`, with or without a `type` naming the
  * column's kind, or one combinator (`allOf`/`anyOf`/`oneOf`/`not`) over
  * such keywords, whose branches may declare any type. Each case reads a
  * copy of one physical column (string, int, double, decimal or
  * timestamp, with nulls); all cases compile into one table schema and
  * run in one scan, and each row's (pointer, constraint) set from
  * `Validator.violations` must be the evaluator's.
  *
  * The evaluator's instance model: a NULL value is an absent property,
  * which no value keyword constrains; a timestamp value is a date-time
  * string to a node that says `format: date-time`, and of no JSON type
  * to any other node.
  */
class Draft4PropertySpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark

  /** A physical column kind: its type, the draft-4 types it can name and its values. */
  private case class Kind(column: String, dt: DataType, types: Seq[String], values: Seq[Any])

  private def instant(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
  private val kinds = Seq(
    Kind("s", StringType, Seq("string"),
      Seq("abc", "7", "ab", "", "a@b.co", "10.0.0.1", "2024-01-02T03:04:05Z", "x9", "b")),
    Kind("i", IntegerType, Seq("integer", "number"), Seq(-3, 0, 2, 5, 7, 10, 50)),
    Kind("d", DoubleType, Seq("number"), Seq(-1.5, 0.0, 0.25, 2.0, 5.0, 7.5, 10.0)),
    Kind("m", DecimalType(10, 2), Seq("number"),
      Seq("-1.50", "0.00", "0.25", "2.00", "5.00", "7.50", "10.00").map(new java.math.BigDecimal(_))),
    Kind("t", TimestampType, Nil, Seq(instant("2024-01-02T03:04:05Z"), instant("1999-12-31T23:59:59Z"))))

  private def number(v: Any): Option[BigDecimal] = v match {
    case i: Int                  => Some(BigDecimal(i))
    case d: Double               => Some(BigDecimal(d))
    case d: java.math.BigDecimal => Some(BigDecimal(d))
    case _                       => None
  }
  private def json(v: Any): JValue = v match {
    case s: String => JString(s)
    case null      => JNull
    case n         => JDecimal(number(n).get)
  }

  // ------------------------------------------------------------ generators

  private val typeNames = Seq("string", "integer", "number")
  private val bounds = Seq("-1", "0", "2", "2.5", "5", "7.5").map(b => JDecimal(BigDecimal(b)))

  private def keyword(k: Kind): Gen[List[JField]] = Gen.oneOf(
    Gen.oneOf(bounds).map(b => List("minimum" -> b)),
    Gen.oneOf(bounds).map(b => List("maximum" -> b)),
    Gen.oneOf(bounds).map(b => List("minimum" -> b, "exclusiveMinimum" -> JBool(true))),
    Gen.oneOf(bounds).map(b => List("maximum" -> b, "exclusiveMaximum" -> JBool(true))),
    Gen.oneOf("2", "0.5", "5").map(m => List("multipleOf" -> JDecimal(BigDecimal(m)))),
    Gen.choose(1, 3).map(n => List("minLength" -> JInt(n))),
    Gen.choose(0, 2).map(n => List("maxLength" -> JInt(n))),
    Gen.oneOf("^a", "b$", "[0-9]", "^[a-z]+$").map(p => List("pattern" -> JString(p))),
    Gen.oneOf("email", "ipv4", "date-time").map(f => List("format" -> JString(f))),
    // enum literals of the column's kind (another kind is a bind error)
    for {
      vs <- if (k.types.isEmpty) Gen.const(Nil) else Gen.someOf(k.values)
      withNull <- Gen.oneOf(true, false)
    } yield List("enum" -> JArray((vs.toList ++ (if (withNull || vs.isEmpty) List(null) else Nil)).map(json))))

  private def typed(names: Gen[Seq[String]], kw: List[JField]): Gen[JObject] =
    names.map {
      case Seq()  => JObject(kw)
      case Seq(t) => JObject(("type" -> JString(t)) :: kw)
      case ts     => JObject(("type" -> JArray(ts.map(JString(_)).toList)) :: kw)
    }

  /** A `type` that can hold the column (a timestamp only under `format: date-time`), or none. */
  private def ownType(k: Kind, kw: List[JField]): Gen[Seq[String]] =
    if (k.types.isEmpty)
      Gen.const(if (kw.contains("format" -> JString("date-time"))) Seq("string") else Nil)
    else Gen.oneOf(
      Gen.const(Nil),
      Gen.oneOf(k.types).map(Seq(_)),
      for (t <- Gen.oneOf(k.types); o <- Gen.oneOf(typeNames.filterNot(_ == t))) yield Seq(t, o))

  private def anyType: Gen[Seq[String]] =
    Gen.oneOf(Gen.const(Nil), Gen.oneOf(typeNames).map(Seq(_)), Gen.pick(2, typeNames).map(_.toSeq))

  private def schema(k: Kind): Gen[JObject] = Gen.oneOf(
    keyword(k).flatMap(kw => typed(ownType(k, kw), kw)),
    for {
      comb <- Gen.oneOf("allOf", "anyOf", "oneOf", "not")
      n <- if (comb == "not") Gen.const(1) else Gen.choose(1, 3)
      branches <- Gen.listOfN(n, keyword(k).flatMap(kw => typed(anyType, kw)))
      top <- typed(ownType(k, Nil), List(comb -> (if (comb == "not") branches.head else JArray(branches))))
    } yield top)

  // ------------------------------------------------------------- evaluator

  private val formats = Map(
    "email" -> """^[^@\s]+@[^@\s]+\.[^@\s]+$""",
    "ipv4" -> """^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$""",
    "date-time" -> """^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})$""")
    .map { case (f, re) => f -> Pattern.compile(re) }

  /** The constraints value `v` fails under `node`, named as the engine names them. */
  private def failures(node: JValue, v: Any): Set[String] = if (v == null) Set.empty else {
    def f(k: String) = Js.field(node, k)
    val format = Js.stringField(node, "format")
    val types: Set[String] = v match {
      case _: String             => Set("string")
      case _: java.sql.Timestamp => if (format.contains("date-time")) Set("string") else Set.empty
      case n                     => if (number(n).get.isWhole) Set("integer", "number") else Set("number")
    }
    val (num, str) = (number(v), Some(v).collect { case s: String => s })
    def bound(k: String) = f(k).flatMap(Js.asNumber)
    def length(k: String) = for (n <- f(k).flatMap(Js.asInt); s <- str) yield (n, s.codePointCount(0, s.length))
    def valid(sub: JValue) = failures(sub, v).isEmpty
    val branches = (k: String) => f(k).toList.flatMap { case JArray(bs) => bs; case b => List(b) }
    val exMin = f("exclusiveMinimum").contains(JBool(true))
    val exMax = f("exclusiveMaximum").contains(JBool(true))
    Seq(
      "type:integer" -> f("type").exists(t => !branches("type").collect { case JString(n) => n }.exists(types)),
      (if (exMin) "exclusiveMinimum" else "minimum") ->
        (for (b <- bound("minimum"); n <- num) yield if (exMin) n <= b else n < b).contains(true),
      (if (exMax) "exclusiveMaximum" else "maximum") ->
        (for (b <- bound("maximum"); n <- num) yield if (exMax) n >= b else n > b).contains(true),
      "multipleOf" -> (for (k <- bound("multipleOf"); n <- num) yield n % k != 0).contains(true),
      "minLength" -> length("minLength").exists { case (n, l) => l < n },
      "maxLength" -> length("maxLength").exists { case (n, l) => l > n },
      "pattern" -> (for (p <- Js.stringField(node, "pattern"); s <- str) yield !Pattern.compile(p).matcher(s).find())
        .contains(true),
      s"format:${format.getOrElse("")}" ->
        (for (fm <- format; re <- formats.get(fm); s <- str) yield !re.matcher(s).matches()).contains(true),
      "enum" -> f("enum").exists(_ => !branches("enum").exists(l => l == JString(v.toString) && str.isDefined ||
        Js.asNumber(l).exists(num.contains))),
      "allOf" -> (f("allOf").isDefined && !branches("allOf").forall(valid)),
      "anyOf" -> (f("anyOf").isDefined && !branches("anyOf").exists(valid)),
      "oneOf" -> (f("oneOf").isDefined && branches("oneOf").count(valid) != 1),
      "not" -> f("not").exists(valid)
    ).collect { case (name, true) => name }.toSet
  }

  // ------------------------------------------------------------------ test

  "compiled scalar keywords" should "agree with a draft-4 evaluator on generated schemas and rows" in {
    val params = Gen.Parameters.default
    var seed = Seed(20261019L)
    def sample[A](g: Gen[A]): A = { val a = g.pureApply(params, seed); seed = seed.next; a }
    val rows = (0 until 16).map(r => (r, kinds.map(k => sample(Gen.oneOf(k.values :+ null)))))
    val cases = (0 until 150).map { j =>
      val k = sample(Gen.oneOf(kinds))
      (s"c$j", k, sample(schema(k)))
    }
    val tableJson = JObject(
      "type" -> JString("object"),
      "required" -> JArray(List(JString("conv_id"), JString("turn_idx"))),
      "properties" -> JObject(List("conv_id" -> JObject("type" -> JString("string")),
        "turn_idx" -> JObject("type" -> JString("integer"))) ++ cases.map { case (c, _, s) => c -> s }))
    val ts = TableSchemaCompiler.compileString(Js.compact(tableJson)).fold(e => fail(e), identity)
    val base = StructType(StructField("conv_id", StringType) +: StructField("turn_idx", IntegerType) +:
      kinds.map(k => StructField(k.column, k.dt)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (r, vs) => Row.fromSeq("c1" +: r +: vs) }: _*), base)
      .selectExpr("conv_id" +: "turn_idx" +: cases.map { case (c, k, _) => s"${k.column} AS $c" }: _*)
    ConstraintCompiler.bindReport(ts, df.schema).filter(_.status != "ok") shouldBe empty

    val actual = Validator.violations(df, ts, Seq("conv_id", "turn_idx")).collect()
      .map(r => (r.getAs[String]("pointer"), r.getAs[String]("constraint"))).toSet
    val expected = (for {
      (r, vs) <- rows
      (c, k, s) <- cases
      failed <- failures(s, vs(kinds.indexOf(k)))
    } yield (s"/c1/$r/$c", failed)).toSet
    val byColumn = cases.map { case (c, _, s) => c -> Js.compact(s) }.toMap
    def explain(ps: Set[(String, String)]) =
      ps.toSeq.sorted.map { case (p, con) => s"$p $con ${byColumn(p.split('/').last)}" }.mkString("\n")
    withClue(s"missing:\n${explain(expected -- actual)}\nunexpected:\n${explain(actual -- expected)}\n") {
      actual shouldBe expected
    }
    expected.size should be > 100 // the generated cases do violate
  }
}
