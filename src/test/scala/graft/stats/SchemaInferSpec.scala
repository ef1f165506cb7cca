package graft.stats

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.compile.TableSchemaCompiler
import graft.exprs.Validator
import graft.sources.TranscriptGen

/** Constraint inference goldens + the round-trip contract: an inferred
  * schema re-parses through the engine's own compile pipeline and
  * validates its source table with ZERO violations; rows outside the
  * observed envelope are flagged.
  */
class SchemaInferSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def byCol(df: org.apache.spark.sql.DataFrame) =
    SchemaInfer.inferConstraints(df).collect().map(r => r.getString(0) -> r).toMap

  "SchemaInfer" should "infer exact bounds, requiredness and enums on a known fixture" in {
    val df = Seq(
      (1L, "alpha", Some(3), Some(true), 1.5),
      (2L, "beta", Some(7), Some(false), -2.0),
      (3L, "alpha", None, Some(true), 0.25)
    ).toDF("id", "name", "score", "flag", "ratio")
    val rows = byCol(df)

    rows("id").getString(1) shouldBe "integer"
    rows("id").getBoolean(3) shouldBe true // no nulls
    rows("id").getDouble(4) shouldBe 1.0
    rows("id").getDouble(5) shouldBe 3.0
    rows("id").getString(8) shouldBe Seq("1","2","3").mkString(SchemaInfer.EnumSep) // 3 distinct ints -> enum

    rows("name").getString(1) shouldBe "string"
    rows("name").getLong(6) shouldBe 4L // minLength "beta"
    rows("name").getLong(7) shouldBe 5L // maxLength "alpha"
    rows("name").getString(8) shouldBe Seq("alpha","beta").mkString(SchemaInfer.EnumSep)

    rows("score").getBoolean(3) shouldBe false // has a null
    rows("score").getString(8) shouldBe Seq("3","7").mkString(SchemaInfer.EnumSep)

    rows("flag").getString(1) shouldBe "boolean"
    rows("flag").getString(8) shouldBe Seq("false","true").mkString(SchemaInfer.EnumSep)

    rows("ratio").getString(1) shouldBe "number"
    rows("ratio").getDouble(4) shouldBe -2.0
    rows("ratio").getDouble(5) shouldBe 1.5
    rows("ratio").getString(8) shouldBe null // fractional: never an enum
  }

  it should "prune high-cardinality columns from enums and handle all-null columns" in {
    val df = spark.range(2000).select(
      concat(lit("u"), col("id")).as("uid"), // 2000 distinct -> no enum
      (col("id") % 3).as("bucket"),
      lit(null).cast("string").as("empty"))
    val rows = byCol(df)
    rows("uid").getString(8) shouldBe null
    rows("uid").getLong(6) shouldBe 2L // "u0"
    rows("uid").getLong(7) shouldBe 5L // "u1999"
    rows("bucket").getString(8) shouldBe Seq("0","1","2").mkString(SchemaInfer.EnumSep)
    rows("empty").getBoolean(3) shouldBe false
    rows("empty").getString(8) shouldBe null // zero distinct: no enum
    rows("empty").isNullAt(6) shouldBe true
  }

  it should "round-trip: the inferred schema compiles and validates its source with zero violations" in {
    val df = TranscriptGen.generate(spark, 20, 8).cache()
    try {
      val json = SchemaInfer.inferSchemaJson(df)
      val schema = TableSchemaCompiler.compileString(json)
        .fold(e => fail(s"inferred schema failed to compile: $e\n$json"), identity)
      Validator.violations(df, schema, Seq("conv_id", "turn_idx")).count() shouldBe 0L

      // a row outside the observed envelope is flagged by the same schema
      val maxIdx = df.agg(max("turn_idx")).collect()(0).getInt(0)
      val bad = df.limit(1).select(
        col("conv_id"), lit(maxIdx + 100).as("turn_idx"),
        lit("intruder_role").as("role"), col("text"), col("tool"), col("ts"))
      val vios = Validator.violations(df.unionByName(bad), schema, Seq("conv_id", "turn_idx"))
      vios.count() should be >= 2L // turn_idx above maximum + role outside enum
      val constraints = vios.select("constraint").distinct().as[String].collect().toSet
      constraints.exists(_.contains("maximum")) shouldBe true
      constraints.exists(_.contains("enum")) shouldBe true
    } finally df.unpersist()
  }

  it should "escape enum literals so hostile values still render a compilable schema" in {
    val df = Seq(
      ("""he said "hi"""", 1L),
      ("""back\slash""", 2L),
      ("tab\there", 3L)
    ).toDF("label", "id")
    val json = SchemaInfer.inferSchemaJson(df)
    val schema = TableSchemaCompiler.compileString(json)
      .fold(e => fail(s"escaped schema failed to compile: $e\n$json"), identity)
    Validator.violations(df, schema, keyCols = Seq("id")).count() shouldBe 0L
  }

  it should "infer the most specific menu pattern, or none" in {
    val df = Seq(
      ("c1", "Bad-Tool", "has space", "007"),
      ("c23", "web_search", "plain", "42")
    ).toDF("conv", "tool", "free", "digits")
    val rows = byCol(df)
    rows("conv").getString(9) shouldBe "^[a-z][0-9]+$"
    rows("tool").getString(9) shouldBe "^[A-Za-z0-9_.-]+$"
    rows("free").getString(9) shouldBe null // space matches nothing in the menu
    rows("digits").getString(9) shouldBe "^[0-9]+$"
    // all-null column: no pattern (not the vacuous first candidate)
    val nulls = Seq((1L, None: Option[String])).toDF("id", "empty")
    byCol(nulls)("empty").getString(9) shouldBe null
  }

  it should "suggest data-true property dependencies and render them into the schema" in {
    // tool set => role set; role itself sometimes null (so the dep is
    // non-redundant); text unconditionally present (required, so any
    // dep onto it is filtered as redundant)
    val df = Seq(
      (1L, Some("search"), Some("tool"), "a"),
      (2L, None, Some("user"), "b"),
      (3L, None, None: Option[String], "c")
    ).toDF("id", "tool", "role", "text")
    val deps = SchemaInfer.suggestDependencies(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(4)).toMap
    deps(("tool", "role")) shouldBe true
    deps(("role", "tool")) shouldBe false // role=user row has no tool
    deps(("tool", "text")) shouldBe true  // holds, but redundant in the render

    val json = SchemaInfer.inferSchemaJson(df)
    json should include(""""dependencies": { "tool": ["role"] }""")
    val schema = TableSchemaCompiler.compileString(json)
      .fold(e => fail(s"dep schema failed to compile: $e\n$json"), identity)
    Validator.violations(df, schema, keyCols = Seq("id")).count() shouldBe 0L
    // a row violating the dependency (tool without role) is flagged
    val bad = Seq((9L, Some("calc"), None: Option[String], "a")).toDF("id", "tool", "role", "text")
    Validator.violations(df.unionByName(bad), schema, keyCols = Seq("id"))
      .filter(col("constraint").contains("dependen")).count() should be >= 1L
  }

  it should "round-trip enum values containing commas (review regression)" in {
    val df = Seq(("red", 1L), ("blue,green", 2L), ("red", 3L)).toDF("color", "id")
    val json = SchemaInfer.inferSchemaJson(df)
    val schema = TableSchemaCompiler.compileString(json)
      .fold(e => fail(s"comma-value schema failed to compile: $e\n$json"), identity)
    Validator.violations(df, schema, keyCols = Seq("id")).count() shouldBe 0L
    // and the enum is real: a third color is flagged
    val bad = Seq(("violet", 9L)).toDF("color", "id")
    Validator.violations(df.unionByName(bad), schema, keyCols = Seq("id"))
      .count() should be >= 1L
  }

  it should "skip unrenderable bounds instead of crashing (NaN) and stay sound above 2^53" in {
    // NaN bound: render must not throw, and the bound is simply omitted
    val nan = Seq((Double.NaN, 1L), (1.5, 2L)).toDF("ratio", "id")
    val json = SchemaInfer.inferSchemaJson(nan)
    json should not include "NaN"
    TableSchemaCompiler.compileString(json).isRight shouldBe true

    // above 2^53 the double-carried integer bound is widened outward,
    // never inward: the rendered maximum must still admit the true max
    val big = 9007199254740995L // not exactly representable as double
    val row = org.apache.spark.sql.Row("huge", "integer", null, true,
      big.toDouble, big.toDouble, null, null, null)
    val doc = SchemaInfer.renderSchemaJson(Seq(row))
    val max = """"maximum": (-?\d+)""".r.findFirstMatchIn(doc).get.group(1).toLong
    val min = """"minimum": (-?\d+)""".r.findFirstMatchIn(doc).get.group(1).toLong
    min should be <= big
    max should be >= big
  }

  it should "flag a timestamp-to-string format drift as a type change (review regression)" in {
    val base = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).toDF("id", "ts")
    val cur = Seq((2L, "2024-01-01 not really a timestamp")).toDF("id", "ts")
    val d = SchemaInfer.constraintDrift(base, cur)
      .collect().map(r => r.getString(0) -> r).toMap
    d("ts").getString(1) shouldBe "ok"
    d("ts").getBoolean(2) shouldBe true // json_type string both sides, but format moved
  }

  it should "diff two inferred constraint sets into a drift report" in {
    val base = Seq(
      (1L, "a", Some("x"), 10),
      (2L, "b", Some("y"), 20)
    ).toDF("id", "cat", "opt", "score")
    val cur = Seq(
      (3L, "a", None: Option[String], 5, 1.0),   // opt gains a null, score breaks min
      (4L, "c", Some("y"), 30, 2.0)              // cat gains value "c", score breaks max
    ).toDF("id", "cat", "opt", "score", "extra") // extra: added column
    val d = SchemaInfer.constraintDrift(base.drop("id").withColumn("gone", lit(1)), // removed col
        cur.drop("id"))
      .collect().map(r => r.getString(0) -> r).toMap

    d("gone").getString(1) shouldBe "removed"
    d("extra").getString(1) shouldBe "added"
    d("cat").getString(1) shouldBe "ok"
    d("cat").getString(5) shouldBe "c" // new enum value
    d("opt").getBoolean(3) shouldBe true // nullability regressed
    d("score").getBoolean(4) shouldBe true // bounds widened both ways
    d("cat").getBoolean(4) shouldBe false
  }

  it should "flag an enum explosion when a categorical column goes free-form" in {
    val base = Seq.tabulate(20)(i => (i.toLong, s"v${i % 3}")).toDF("id", "cat")
    val cur = Seq.tabulate(2000)(i => (i.toLong, s"v$i")).toDF("id", "cat")
    val d = SchemaInfer.constraintDrift(base, cur)
      .collect().map(r => r.getString(0) -> r).toMap
    d("cat").getBoolean(6) shouldBe true  // enum_exploded
    d("cat").getString(5) shouldBe null   // no new_enum_vals without both enums
  }

  it should "judge key candidates exactly: nulls, duplicates, and true keys" in {
    val df = Seq(
      (1L, Some("a"), "x"),
      (2L, Some("b"), "x"), // dup in (c3)
      (2L, Some("b"), "y"), // dup in (c1)
      (3L, None, "z")       // null component for c2
    ).toDF("id", "opt", "grp")
    val got = SchemaInfer.suggestKeys(df, Seq(
        Seq("id"), Seq("id", "opt"), Seq("grp"), Seq("id", "grp")))
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    got("id") shouldBe ((0L, false))        // duplicate 2
    got("id,opt") shouldBe ((1L, false))    // null component row
    got("grp") shouldBe ((0L, false))       // duplicate x
    got("id,grp") shouldBe ((0L, true))     // the true key
  }

  it should "skip the exact key probe for HLL-obvious non-keys" in {
    // 10k rows, 3 distinct values: HLL says ~3 << 9000 -> settled false
    // with no second job; count jobs via a listener
    val df = spark.range(10000).select((col("id") % 3).as("g")).cache()
    df.count()
    try {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        def jobsFor(cols: Seq[String], expectKey: Boolean): Int = {
          Thread.sleep(800) // listener events are async
          val before = jobs.get()
          SchemaInfer.suggestKeys(df, Seq(cols)).collect()
            .head.getBoolean(3) shouldBe expectKey
          Thread.sleep(800) // listener events are async
          jobs.get() - before
        }
        val idCol = spark.range(10000).toDF("g2") // distinct -> true key, probe runs
        idCol.createOrReplaceTempView("__unused") // keep symmetry trivial
        val nonKeyJobs = jobsFor(Seq("g"), expectKey = false)
        val before = jobs.get()
        SchemaInfer.suggestKeys(idCol, Seq(Seq("g2"))).collect()
          .head.getBoolean(3) shouldBe true
        Thread.sleep(800) // listener events are async
        val keyJobs = jobs.get() - before
        // an HLL-obvious non-key settles without the exact groupBy probe
        keyJobs should be > nonKeyJobs
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally df.unpersist()
  }

  it should "survive hostile column names: dots and double-underscores (review regression)" in {
    // "user.id" would parse as a struct access; x__y/y__z used to
    // collide in the dependency counter aliases
    val df = Seq(
      (1L, Some("a"), Some("q"), None: Option[String]),
      (2L, None, Some("r"), Some("w"))
    ).toDF("user.id", "x__y", "x", "y__z")
    // inference, render and compile all succeed (the review's CLI crash
    // class); the VALIDATOR's own dotted-physical-column binding is a
    // separate pre-existing boundary (bindReport surfaces it), so the
    // zero-violation round-trip is asserted on the renamed twin
    val json = SchemaInfer.inferSchemaJson(df)
    TableSchemaCompiler.compileString(json)
      .fold(e => fail(s"hostile-name schema failed to compile: $e\n$json"), identity)
    val renamed = df.withColumnRenamed("user.id", "user_id")
    val schema2 = TableSchemaCompiler.compileString(SchemaInfer.inferSchemaJson(renamed))
      .fold(e => fail(e), identity)
    Validator.violations(renamed, schema2, keyCols = Seq("user_id")).count() shouldBe 0L
    // dependency verdicts are per-pair exact despite the __ names
    val deps = SchemaInfer.suggestDependencies(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(4)).toMap
    deps(("x__y", "x")) shouldBe true   // a present => q/r present
    deps(("x__y", "y__z")) shouldBe false // row 1: a without w
    deps(("y__z", "x__y")) shouldBe false // row 2: w without a
    // and keys under hostile names
    val keys = SchemaInfer.suggestKeys(df, Seq(Seq("user.id"), Seq("x__y")))
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    keys("user.id") shouldBe true
    keys("x__y") shouldBe false // null component
  }

  it should "never pattern-match values with trailing line terminators (java-vs-RE2 parity)" in {
    val df = Seq(("abc", 1L), ("def\n", 2L)).toDF("v", "id")
    // java regex alone would accept "def\n" under ^[a-z]+$ ($ matches
    // before a final terminator); the rule must reject it like RE2
    byCol(df)("v").getString(9) shouldBe null
    val clean = Seq(("abc", 1L), ("def", 2L)).toDF("v", "id")
    byCol(clean)("v").getString(9) shouldBe "^[a-z]+$"
  }

  it should "flag pattern drift (review regression)" in {
    val base = Seq(("c1", 1L), ("c22", 2L)).toDF("v", "id")   // ^[a-z][0-9]+$
    val cur = Seq(("1-c", 3L), ("2-d", 4L)).toDF("v", "id")   // no menu match
    val d = SchemaInfer.constraintDrift(base, cur)
      .collect().map(r => r.getString(0) -> r).toMap
    d("v").getBoolean(7) shouldBe true  // pattern_changed
    d("v").getBoolean(2) shouldBe false // not a type change
  }

  it should "round-trip ANY table: property fuzz over adversarial values" in {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    // adversarial string alphabet: JSON metacharacters, control chars,
    // the enum separator itself, non-ASCII, emoji
    val hostileChar = Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(
      '"', '\\', '\n', '\t', '', ',', '/', '~', 'é', '漢', '\ud83d', ' ')) // lone high surrogate: worst-case string
    val hostileStr = Gen.chooseNum(0, 8).flatMap(n => Gen.stringOfN(n, hostileChar))
    val anyLong = Gen.oneOf(Gen.chooseNum(-100L, 100L),
      Gen.oneOf(Long.MinValue, Long.MaxValue, 9007199254740995L, -9007199254740997L))
    val anyDouble = Gen.oneOf(Gen.chooseNum(-1e6, 1e6),
      Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 1e300))
    val rowGen = for {
      s <- Gen.option(hostileStr)
      l <- Gen.option(anyLong)
      d <- Gen.option(anyDouble)
    } yield (s, l, d)
    val tableGen = Gen.chooseNum(1, 25).flatMap(n => Gen.listOfN(n, rowGen))

    val p = Prop.forAll(tableGen) { rows =>
      val df = rows.zipWithIndex
        .map { case ((s, l, d), i) => (i.toLong, s, l, d) }
        .toDF("id", "s", "l", "d")
      val json = SchemaInfer.inferSchemaJson(df, enumMaxDistinct = 8)
      TableSchemaCompiler.compileString(json) match {
        case Left(e) => println(s"uncompilable: $e\n$json"); false
        case Right(schema) =>
          val n = Validator.violations(df, schema, keyCols = Seq("id")).count()
          if (n != 0) println(s"violations=$n for\n$json")
          n == 0L
      }
    }
    val r = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(30), p)
    withClue(r.status.toString)(r.passed shouldBe true)
  }

  it should "stay bounded: pass 2 collects only pruned candidates" in {
    // 50k rows, one hot high-cardinality column: the enum scan must not
    // collect it (candidates are HLL-pruned before the scan)
    val df = spark.range(50000).select(
      concat(lit("v"), col("id")).as("wide"),
      (col("id") % 4).cast("int").as("narrow"))
    val rows = byCol(df)
    rows("wide").getString(8) shouldBe null
    rows("narrow").getString(8) shouldBe Seq("0","1","2","3").mkString(SchemaInfer.EnumSep)
  }
}
