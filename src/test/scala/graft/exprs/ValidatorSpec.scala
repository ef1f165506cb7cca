package graft.exprs

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.compile.{TableSchema, TableSchemaCompiler}
import graft.sources.TranscriptGen

object ValidatorSpec {
  /** One emitted violation row of a transcripts table. */
  final case class Vio(conv_id: String, turn_idx: Int, pointer: String, constraint: String, actual: String)
}

/** Execution golden tests (FIXTURES.md §4 clean-100 / dirty-100): the
  * fused single-scan validator must emit exactly the planted violations,
  * with json-pointer paths, under stable (conv_id, turn_idx) ordering.
  */
class ValidatorSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark

  private val schema = TableSchemaCompiler
    .compileString(graft.compile.Fixtures.flagshipSchema)
    .fold(e => throw new IllegalArgumentException(e), identity)

  /** The transcripts table's violation rows, keyed by (conv_id, turn_idx). */
  private def violations(df: DataFrame, schema: TableSchema): Dataset[ValidatorSpec.Vio] = {
    import spark.implicits._
    Validator.violations(df, schema, Seq("conv_id", "turn_idx")).as[ValidatorSpec.Vio]
  }

  "Validator" should "emit zero violations on the clean fixture" in {
    val df = TranscriptGen.generate(spark, 10, 10, TranscriptGen.clean)
    violations(df, schema).count() shouldBe 0L
  }

  it should "emit exactly the planted violations on the dirty fixture" in {
    val defects = TranscriptGen.Defects(badEnumRole = true, nullRole = true,
      negativeTurnIdx = true, toolOnNonTool = true, badConvPattern = true)
    val df = TranscriptGen.generate(spark, 10, 10, defects).cache()
    try {
      val vios = violations(df, schema)
        .orderBy("conv_id", "turn_idx", "constraint")
        .collect().toSeq

      // oracle: replicate the generator's modulus rules row by row
      case class Row(id: Int) {
        val conv: Int = id / 10
        val turn: Int = id % 10
        val roleBase: String = if (turn == 0) "system" else Seq("user", "assistant", "tool")(id % 3)
        val role: Option[String] =
          if (id % 131 == 7) Some("operator") else if (id % 149 == 11) None else Some(roleBase)
        val tool: Option[String] =
          if (roleBase == "tool") Some(Seq("search", "code_run", "fetch_url", "calc")(id % 4))
          else if (id % 173 == 23) Some("rogue_tool") else None
        val turnIdx: Int = if (id % 211 == 5) -1 else turn
        val convBad: Boolean = conv % 97 == 13
      }
      val rows = (0 until 100).map(Row)
      val expected = rows.flatMap { r =>
        Seq(
          if (r.role.contains("operator")) Some("enum") else None,
          if (r.role.isEmpty) Some("required") else None,
          if (r.turnIdx < 0) Some("minimum") else None,
          if (r.convBad) Some("pattern") else None,
          if (r.tool.isDefined && r.role.isEmpty) Some("dependencies") else None
        ).flatten
      }
      withClue(vios.mkString("\n")) {
        vios.map(_.constraint).sorted shouldBe expected.sorted
      }

      // exact pointer form: /<conv_id>/<turn_idx>/<column>
      val bad = vios.find(_.constraint == "enum").get
      bad.pointer shouldBe s"/${bad.conv_id}/${bad.turn_idx}/role"
      bad.actual shouldBe "operator"
    } finally df.unpersist()
  }

  it should "flag dependencies: tool set while role is null" in {
    import spark.implicits._
    val rows = Seq(
      ("c1", 0, Option("system"), "t", None: Option[String], java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("c1", 1, None: Option[String], "t", Option("search"), java.sql.Timestamp.valueOf("2024-01-01 00:00:01")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val vios = violations(rows, schema).collect()
    vios.map(_.constraint).toSet shouldBe Set("required", "dependencies")
    vios.filter(_.constraint == "dependencies").head.pointer shouldBe "/c1/1/tool"
  }

  it should "escape pointer keys per RFC 6901 (~ and / in conv_id)" in {
    import spark.implicits._
    val rows = Seq(
      ("a/b~c", -1, "user", "t", None: Option[String], java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val vios = violations(rows, schema).collect()
    val minV = vios.filter(_.constraint == "minimum").head
    minV.pointer shouldBe "/a~1b~0c/-1/turn_idx"
    // conv_id also violates the ^c[0-9]+$ pattern
    vios.map(_.constraint).toSet shouldBe Set("minimum", "pattern")
  }

  it should "report maxLength and minLength violations" in {
    import spark.implicits._
    val strictSchema = TableSchemaCompiler.compileString(
      graft.compile.Fixtures.flagshipSchema.replace("\"minLength\": 0", "\"minLength\": 1")
        .replace("\"maxLength\": 65536", "\"maxLength\": 10")).toOption.get
    val rows = Seq(
      ("c1", 0, "user", "", None: Option[String], java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("c1", 1, "user", "this text is far too long", None: Option[String], java.sql.Timestamp.valueOf("2024-01-01 00:00:01")),
      ("c1", 2, "user", "short", None: Option[String], java.sql.Timestamp.valueOf("2024-01-01 00:00:02")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val vios = violations(rows, strictSchema).collect()
    vios.map(v => (v.turn_idx, v.constraint)).toSet shouldBe Set((0, "minLength"), (1, "maxLength"))
  }

  it should "count violations invariantly under row permutation (single-pass, order-free)" in {
    val defects = TranscriptGen.all
    val df = TranscriptGen.generate(spark, 20, 5, defects)
    val n1 = violations(df, schema).count()
    val n2 = violations(df.orderBy(rand(42)), schema).count()
    n1 shouldBe n2
  }

  it should "keep the fused plan shuffle-free (one scan, no exchange)" in {
    val df = TranscriptGen.generate(spark, 10, 10)
    val plan = violations(df, schema).queryExecution.executedPlan.toString
    plan should not include "Exchange"
  }

  "Validator.violationCounts" should "equal the rollup over emitted violation rows" in {
    import org.apache.spark.sql.functions._
    val df = TranscriptGen.generate(spark, 200, 5, TranscriptGen.all)
    val schema = graft.compile.TableSchemaCompiler
      .compileString(graft.compile.Fixtures.flagshipSchema).toOption.get
    val emitted = violations(df, schema).toDF()
      .groupBy(col("constraint"), element_at(split(col("pointer"), "/"), -1).as("column"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val counted = Validator.violationCounts(df, schema)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    emitted.isEmpty shouldBe false
    counted shouldBe emitted
  }
}
