package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** SQL-surface registration of the custom codegen expressions: a
  * `spark.sql` user gets the same kernels the DataFrame API uses.
  */
class GraftExtensionsSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = {
    val s = SparkTestBase.spark
    GraftExtensions.install(s)
    s
  }

  "GraftExtensions" should "expose rolling_hash to spark.sql" in {
    val h = spark.sql("SELECT rolling_hash('abc') AS h").collect().head.getLong(0)
    val expect = "abc".getBytes("UTF-8")
      .foldLeft(0L)((acc, b) => (acc * 31L + (b & 0xffL)) % 1000000007L)
    h shouldBe expect
    spark.sql("SELECT rolling_hash(NULL) AS h").collect().head.isNullAt(0) shouldBe true
  }

  it should "expose float_vec_dot to spark.sql" in {
    val d = spark.sql(
      "SELECT float_vec_dot(array(CAST(1.5 AS FLOAT), CAST(2 AS FLOAT)), array(CAST(4 AS FLOAT), CAST(0.5 AS FLOAT))) AS d")
      .collect().head.getDouble(0)
    d shouldBe 7.0
  }

  it should "expose simple_pattern to spark.sql (literal patterns only)" in {
    val rows = spark.sql(
      "SELECT simple_pattern(x, '^c[0-9]+$') FROM VALUES ('c42'), ('x42'), (NULL) AS t(x)")
      .collect()
    rows(0).getBoolean(0) shouldBe true
    rows(1).getBoolean(0) shouldBe false
    rows(2).isNullAt(0) shouldBe true
    // unsupported pattern shapes are rejected loudly, not silently slow
    val e1 = intercept[Exception](
      spark.sql("SELECT simple_pattern('a', 'no-anchors')").collect())
    e1.getMessage should include("not supported")
    val e2 = intercept[Exception](
      spark.sql("SELECT simple_pattern('a', upper('^a$'))").collect())
    e2.getMessage should include("literal")
  }

  it should "reject wrong arity with a clear error" in {
    val e = intercept[Exception](spark.sql("SELECT rolling_hash('a', 'b')").collect())
    e.getMessage should include("argument")
  }

  it should "expose regex_compiles and json_render to spark.sql" in {
    val r = spark.sql(
      "SELECT regex_compiles(x) FROM VALUES ('a+b'), ('*dangling'), (NULL) AS t(x)").collect()
    r(0).getBoolean(0) shouldBe true
    r(1).getBoolean(0) shouldBe false
    r(2).isNullAt(0) shouldBe true
    spark.sql("SELECT json_render(named_struct('a', 'x\"y', 'b', CAST(NULL AS STRING)))")
      .collect().head.getString(0) shouldBe """{"a":"x\"y"}"""
    // unsupported type -> clear analysis error, not silent wrong output
    an[Exception] should be thrownBy
      spark.sql("SELECT json_render(named_struct('t', current_timestamp()))").collect()
  }

  it should "expose the int8 quantization kernels to spark.sql" in {
    val r = spark.sql(
      """SELECT float_vec_max_abs(v) AS m, quantize_int8(v) AS q
        |FROM VALUES (array(CAST(-2 AS FLOAT), CAST(1 AS FLOAT), CAST(NULL AS FLOAT))),
        |            (array(CAST(0 AS FLOAT))),
        |            (CAST(NULL AS ARRAY<FLOAT>)) AS t(v)""".stripMargin).collect()
    r(0).getFloat(0) shouldBe 2.0f
    r(0).getSeq[Any](1) shouldBe Seq(-127.toByte, 64.toByte, null)
    r(1).getFloat(0) shouldBe 0.0f
    r(1).getSeq[Any](1) shouldBe Seq(0.toByte) // degenerate scale branch
    r(2).isNullAt(0) shouldBe true
    r(2).isNullAt(1) shouldBe true
  }

  it should "expose word_grams and minhash_signature to spark.sql (literal n and k only)" in {
    val r = spark.sql(
      """SELECT word_grams(t, 2), word_grams(t, 4), minhash_signature(t, 2, 3)
        |FROM VALUES (array('a', 'b', 'c')), (array('x')), (CAST(NULL AS ARRAY<STRING>)) AS v(t)""".stripMargin)
      .collect()
    r(0).getSeq[String](0) shouldBe Seq("a b", "b c")
    r(0).getSeq[String](1) shouldBe Seq("a b c") // fewer tokens than n: one gram
    r(1).getSeq[String](0) shouldBe Seq("x")
    // slot s is min over the grams of Spark's xxhash64(gram, s)
    val expect = spark.sql(
      "SELECT array(min(xxhash64(g, 0)), min(xxhash64(g, 1)), min(xxhash64(g, 2))) FROM VALUES ('a b'), ('b c') AS v(g)")
      .collect().head.getSeq[Long](0)
    r(0).getSeq[Long](2) shouldBe expect
    (0 until 3).foreach(i => r(2).isNullAt(i) shouldBe true)
    val e1 = intercept[Exception](spark.sql("SELECT word_grams(array('a'), 1 + length('x'))").collect())
    e1.getMessage should include("literal")
    val e2 = intercept[Exception](
      spark.sql("SELECT minhash_signature(array('a'), 2, CAST(length('x') AS INT))").collect())
    e2.getMessage should include("literal")
    val e3 = intercept[Exception](spark.sql("SELECT word_grams(array('a'), 0)").collect())
    e3.getMessage should include(">= 1")
  }

  it should "give the same result from interpreted eval and generated code for every function" in {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // NULL, empty, multibyte and 4-byte text, every raw line terminator
    val strings = Seq(null, "", "c42", "c1\n", "c1\r\n", "x42", "a_b9", "é", "日本語c1",
      "\uD834\uDD1E", "c9\uD83D\uDE00", "\n", "\r", "\r\n", "\u0085", "\u2028", "\u2029",
      "a+b", "*dangling", "[")
    // the dedup tokenization (SQL text: '\\s+' is the regex \s+)
    val tokens = "split(trim(lower(s)), '\\\\s+')"
    val nan = Float.NaN
    val inf = Float.PositiveInfinity
    val arrays: Seq[Seq[Any]] = Seq(null, Seq(), Seq(0f, 0f, 0f), Seq(null, 1.5f), Seq(null, null),
      Seq(nan, 1f), Seq(inf, -2f), Seq(-inf, 0.25f), Seq(-0f, 3f, -7.75f), Seq(1e-30f, -1e30f, 127f))
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("s", StringType),
      StructField("v", ArrayType(FloatType)), StructField("w", ArrayType(FloatType))))
    val rows = for (i <- strings.indices; j <- arrays.indices)
      yield Row(i * arrays.size + j, strings(i), arrays(j), arrays((j + 3) % arrays.size))
    // localCheckpoint: a literal table would fold each call into a
    // LocalRelation, and the inputs would be constants
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).localCheckpoint()
      .createOrReplaceTempView("kernel_inputs")
    val calls = Map(
      "rolling_hash" -> "rolling_hash(s)",
      "float_vec_dot" -> "float_vec_dot(v, w)",
      "simple_pattern" -> "simple_pattern(s, '^c[0-9]+$'), simple_pattern(s, '^[a-z][a-z0-9_]*$')",
      "regex_compiles" -> "regex_compiles(s)",
      "json_render" -> "json_render(named_struct('s', s, 'v', v))",
      "float_vec_max_abs" -> "float_vec_max_abs(v)",
      "quantize_int8" -> "quantize_int8(v)",
      "word_grams" -> s"word_grams($tokens, 1), word_grams($tokens, 2), word_grams($tokens, 5)",
      "minhash_signature" -> s"minhash_signature($tokens, 1, 1), minhash_signature($tokens, 3, 24)")
    calls.keySet shouldBe GraftExtensions.registrations.map(_._1.funcName).toSet
    def run(call: String, wholeStage: String, factoryMode: String): (String, Seq[String]) = {
      val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
      val prevFactory = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", factoryMode)
      try {
        val df = spark.sql(s"SELECT id, $call FROM kernel_inputs")
        // Row.toString renders NaN as NaN, so NaN results compare equal
        (df.queryExecution.executedPlan.toString, df.collect().sortBy(_.getInt(0)).map(_.toString).toSeq)
      } finally {
        spark.conf.set("spark.sql.codegen.wholeStage", prev)
        spark.conf.set("spark.sql.codegen.factoryMode", prevFactory)
      }
    }
    calls.foreach { case (name, call) =>
      withClue(s"$name: ") {
        val (interpretedPlan, interpreted) = run(call, "false", "NO_CODEGEN")
        val (generatedPlan, generated) = run(call, "true", "CODEGEN_ONLY")
        interpretedPlan should not include "*("
        generatedPlan should include("*(")
        generated.size shouldBe rows.size
        generated.zip(interpreted).filter { case (g, i) => g != i } shouldBe empty
      }
    }
  }

  it should "apply the same registrations through the extensions class" in {
    // the config route (spark.sql.extensions) drives this same instance;
    // verify the injector enumerates every registration without error
    val captured = scala.collection.mutable.Buffer.empty[String]
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions()(ext) // must not throw
    GraftExtensions.registrations.map(_._1.funcName) should contain allOf
      ("rolling_hash", "float_vec_dot")
    captured // (silence unused warning pattern)
    succeed
  }
}
