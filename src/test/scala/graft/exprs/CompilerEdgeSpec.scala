package graft.exprs

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestBase
import graft.compile.TableSchemaCompiler

/** Edge-case semantics of the constraint compiler:
  * heterogeneous combinators, additionalProperties with non-scalar
  * sub-schemas, DATE columns under format:date-time, and exact-decimal
  * bound comparisons.
  */
class CompilerEdgeSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark

  private def validate(schemaJson: String, df: org.apache.spark.sql.DataFrame) = {
    val ts = TableSchemaCompiler.compileString(schemaJson)
      .fold(e => throw new IllegalArgumentException(e), identity)
    Validator.violations(df, ts, Seq("conv_id", "turn_idx"))
      .collect().map(r => (r.getAs[Int]("turn_idx"), r.getAs[String]("constraint"))).toSet
  }

  "combinators" should "treat a type-incompatible branch as non-matching, not a compile error" in {
    import spark.implicits._
    // classic draft-4 idiom: oneOf over heterogeneous types; on a string
    // column the integer branch is simply false
    val schema = """
    {
      "type": "object",
      "required": ["conv_id", "turn_idx"],
      "properties": {
        "conv_id":  { "type": "string" },
        "turn_idx": { "type": "integer" },
        "v": { "oneOf": [ { "type": "string", "pattern": "^ok" }, { "type": "integer" } ] }
      }
    }"""
    val df = Seq(
      ("c1", 0, "ok_value"), // matches string branch only -> exactly one
      ("c1", 1, "nope")      // matches neither -> oneOf violation
    ).toDF("conv_id", "turn_idx", "v")
    validate(schema, df) shouldBe Set((1, "oneOf"))
  }

  it should "evaluate not(incompatible-branch) as passing" in {
    import spark.implicits._
    val schema = """
    {
      "type": "object",
      "required": ["conv_id", "turn_idx"],
      "properties": {
        "conv_id":  { "type": "string" },
        "turn_idx": { "type": "integer" },
        "v": { "not": { "type": "integer" } }
      }
    }"""
    val df = Seq(("c1", 0, "anything")).toDF("conv_id", "turn_idx", "v")
    validate(schema, df) shouldBe Set.empty
  }

  "additionalProperties" should "compile combinator-form sub-schemas (no fail-open)" in {
    import spark.implicits._
    val schema = """
    {
      "type": "object",
      "required": ["conv_id", "turn_idx"],
      "properties": {
        "conv_id":  { "type": "string" },
        "turn_idx": { "type": "integer" },
        "attrs": {
          "type": "object",
          "properties": { "kind": {} },
          "additionalProperties": { "not": { "type": "string", "pattern": "^bad" } }
        }
      }
    }"""
    val df = Seq(
      ("c1", 0, Map("kind" -> "bad_is_fine_here", "k" -> "good")), // clean
      ("c1", 1, Map("k" -> "bad_value"))                           // caught via `not`
    ).toDF("conv_id", "turn_idx", "attrs")
    validate(schema, df) shouldBe Set((1, "additionalProperties"))
  }

  it should "exempt patternProperties-matched keys (draft-4 §5.4.4)" in {
    import spark.implicits._
    val schema = """
    {
      "type": "object",
      "required": ["conv_id", "turn_idx"],
      "properties": {
        "conv_id":  { "type": "string" },
        "turn_idx": { "type": "integer" },
        "attrs": {
          "type": "object",
          "patternProperties": { "^x_": { "type": "string", "pattern": "^[0-9]+$" } },
          "additionalProperties": { "type": "string", "maxLength": 4 }
        }
      }
    }"""
    val df = Seq(
      ("c1", 0, Map("x_1" -> "123456789")), // matches ^x_ -> NOT additional, passes pattern
      ("c1", 1, Map("other" -> "toolong")) // truly additional -> maxLength
    ).toDF("conv_id", "turn_idx", "attrs")
    validate(schema, df) shouldBe Set((1, "additionalProperties"))
  }

  it should "still treat the permissive schema as absent" in {
    import spark.implicits._
    val schema = """
    {
      "type": "object",
      "required": ["conv_id", "turn_idx"],
      "properties": {
        "conv_id":  { "type": "string" },
        "turn_idx": { "type": "integer" },
        "attrs": { "type": "object", "additionalProperties": true }
      }
    }"""
    val df = Seq(("c1", 0, Map("anything" -> "goes"))).toDF("conv_id", "turn_idx", "attrs")
    validate(schema, df) shouldBe Set.empty
  }

  "type:string + format:date-time" should "accept a physical DATE column" in {
    import spark.implicits._
    val schema = """
    {
      "type": "object",
      "required": ["conv_id", "turn_idx"],
      "properties": {
        "conv_id":  { "type": "string" },
        "turn_idx": { "type": "integer" },
        "d": { "type": "string", "format": "date-time" }
      }
    }"""
    val df = Seq(("c1", 0, java.sql.Date.valueOf("2026-01-01")))
      .toDF("conv_id", "turn_idx", "d")
    df.schema("d").dataType shouldBe DateType
    validate(schema, df) shouldBe Set.empty
  }

  "decimal bounds" should "compare in exact decimal arithmetic" in {
    import spark.implicits._
    // 1.000000000000000001 > 1.0 only in decimal; as a double both are 1.0
    val df = Seq(("c1", 0, BigDecimal("1.000000000000000001")),
                 ("c1", 1, BigDecimal("1.000000000000000000")))
      .toDF("conv_id", "turn_idx", "v")
      .withColumn("v", col("v").cast(DecimalType(38, 18)))
    val schema = """
    {
      "type": "object",
      "required": ["conv_id", "turn_idx"],
      "properties": {
        "conv_id":  { "type": "string" },
        "turn_idx": { "type": "integer" },
        "v": { "type": "number", "maximum": 1.0 }
      }
    }"""
    validate(schema, df) shouldBe Set((0, "maximum"))
  }

  """type:"null"""" should "make the nullable oneOf idiom work and flag non-null values standalone" in {
    import spark.implicits._
    val df = Seq(
      ("c1", 0, Some("short")),
      ("c1", 1, None: Option[String]),
      ("c1", 2, Some("definitely too long"))
    ).toDF("conv_id", "turn_idx", "v")
    // oneOf [string(maxLength), null]: null row passes, short passes,
    // long fails — previously EVERY non-null row matched both branches
    val nullable = """
    {
      "type": "object", "required": ["conv_id", "turn_idx"],
      "properties": {
        "conv_id": { "type": "string" }, "turn_idx": { "type": "integer" },
        "v": { "oneOf": [ { "type": "string", "maxLength": 8 }, { "type": "null" } ] }
      }
    }"""
    validate(nullable, df) shouldBe Set((2, "oneOf"))
    // bare type:"null": every NON-null value violates (was fail-open)
    val nullOnly = """
    {
      "type": "object", "required": ["conv_id", "turn_idx"],
      "properties": {
        "conv_id": { "type": "string" }, "turn_idx": { "type": "integer" },
        "v": { "type": "null" }
      }
    }"""
    validate(nullOnly, df) shouldBe Set((0, "type:null"), (2, "type:null"))
  }

  """type: ["number", "integer"]""" should "accept a fractional value on a double column" in {
    import spark.implicits._
    val df = Seq(("c1", 0, 1.5), ("c1", 1, 2.0)).toDF("conv_id", "turn_idx", "v")
    def schema(types: String) = s"""
    {
      "type": "object", "required": ["conv_id", "turn_idx"],
      "properties": {
        "conv_id": { "type": "string" }, "turn_idx": { "type": "integer" },
        "v": { "type": $types }
      }
    }"""
    // 1.5 is a number: only a type that names integer alone checks integrality
    validate(schema("""["number", "integer"]"""), df) shouldBe Set.empty
    validate(schema("\"integer\""), df) shouldBe Set((0, "type:integer"))
  }

  "integral literals beyond the column's range" should "match nothing instead of truncating" in {
    import spark.implicits._
    val df = Seq(("c1", 0, 1L), ("c1", 1, 2L)).toDF("conv_id", "turn_idx", "v")
    // enum:[1.5] on a long column: NO long equals 1.5 -> both rows
    // violate (bd.toLong used to truncate 1.5 to 1 and accept row 0)
    val enumFrac = """
    {
      "type": "object", "required": ["conv_id", "turn_idx"],
      "properties": {
        "conv_id": { "type": "string" }, "turn_idx": { "type": "integer" },
        "v": { "enum": [1.5] }
      }
    }"""
    validate(enumFrac, df) shouldBe Set((0, "enum"), (1, "enum"))
    // enum may carry null (draft-4): dropped, nulls pass anyway
    val enumNull = """
    {
      "type": "object", "required": ["conv_id", "turn_idx"],
      "properties": {
        "conv_id": { "type": "string" }, "turn_idx": { "type": "integer" },
        "v": { "enum": [1, null] }
      }
    }"""
    validate(enumNull, df) shouldBe Set((1, "enum"))
    // minimum 2^63 (beyond Long): EVERY long violates (used to wrap to
    // Long.MinValue and pass everything)
    val bigMin = """
    {
      "type": "object", "required": ["conv_id", "turn_idx"],
      "properties": {
        "conv_id": { "type": "string" }, "turn_idx": { "type": "integer" },
        "v": { "type": "integer", "minimum": 9223372036854775808 }
      }
    }"""
    validate(bigMin, df) shouldBe Set((0, "minimum"), (1, "minimum"))
  }

  "multipleOf on a double column" should "classify out-of-decimal-range values instead of crashing (ANSI)" in {
    import spark.implicits._
    val df = Seq(("c1", 0, 1.0e30), ("c1", 1, 0.3)).toDF("conv_id", "turn_idx", "v")
    val schema = """
    {
      "type": "object", "required": ["conv_id", "turn_idx"],
      "properties": {
        "conv_id": { "type": "string" }, "turn_idx": { "type": "integer" },
        "v": { "type": "number", "multipleOf": 0.5 }
      }
    }"""
    // 1e30 overflows decimal(38,12): falls back to double remainder
    // (it IS a multiple of 0.5) instead of an ANSI CAST_OVERFLOW crash
    validate(schema, df) shouldBe Set((1, "multipleOf"))
  }

  "one-entry tuple items" should "constrain only element 0 and honor additionalItems" in {
    import spark.implicits._
    val df = Seq(
      ("c1", 0, Seq("a1", "b2")),  // [schema] form: element 1 unconstrained
      ("c1", 1, Seq("b2")),        // element 0 violates the positional schema
      ("c1", 2, Seq("a1"))         // clean
    ).toDF("conv_id", "turn_idx", "v")
    val tupleOne = """
    {
      "type": "object", "required": ["conv_id", "turn_idx"],
      "properties": {
        "conv_id": { "type": "string" }, "turn_idx": { "type": "integer" },
        "v": { "type": "array", "items": [ { "type": "string", "pattern": "^a" } ] }
      }
    }"""
    // previously the [s] form compiled as schema-form and flagged "b2"
    // in row 0 too
    validate(tupleOne, df) shouldBe Set((1, "items[0]"))
    val tupleNoExtra = """
    {
      "type": "object", "required": ["conv_id", "turn_idx"],
      "properties": {
        "conv_id": { "type": "string" }, "turn_idx": { "type": "integer" },
        "v": { "type": "array", "items": [ { "type": "string", "pattern": "^a" } ], "additionalItems": false }
      }
    }"""
    // ...and additionalItems:false was silently dropped for 1-entry tuples
    validate(tupleNoExtra, df) shouldBe Set((0, "additionalItems"), (1, "items[0]"))
  }

  "bindReport" should "classify every declared and physical column in one diagnostic view" in {
    val schema = TableSchemaCompiler.compileString("""
      { "type": "object", "required": ["conv_id"],
        "properties": {
          "conv_id":  { "type": "string" },
          "turn_idx": { "type": "integer" },
          "gone_req": { "type": "string" },
          "gone_opt": { "type": "string" },
          "badbind":  { "type": "string", "enum": [1, 2] } } }""").toOption.get
    // required is a PROPERTY attribute in draft-4's root "required" list:
    // re-mark gone_req required through the table compiler contract
    val schemaReq = schema.copy(columns = schema.columns.map {
      case (n, p) if n == "gone_req" => n -> p.copy(required = true)
      case other => other
    })
    val physical = StructType(Seq(
      StructField("conv_id", StringType),
      StructField("turn_idx", IntegerType),
      StructField("badbind", StringType),
      StructField("surprise", DoubleType)))
    val rows = ConstraintCompiler.bindReport(schemaReq, physical)
      .map(b => b.column -> b.status).toMap
    rows("conv_id") shouldBe "ok"
    rows("turn_idx") shouldBe "ok"
    rows("gone_req") shouldBe "missing_required"
    rows("gone_opt") shouldBe "missing_optional"
    rows("badbind") shouldBe "uncompilable" // numeric enum on a string column
    rows("surprise") shouldBe "undeclared"
    // the diagnostic view reports ALL problems where compile fails at the first
    ConstraintCompiler.compile(schemaReq, physical).isLeft shouldBe true
  }

  it should "surface dependency references to missing columns as compile errors, not AnalysisException" in {
    val schema = TableSchemaCompiler.compileString("""
      { "type": "object",
        "properties": { "a": { "type": "string" } },
        "dependencies": { "a": ["ghost"] } }""").toOption.get
    val physical = StructType(Seq(StructField("a", StringType)))
    val err = ConstraintCompiler.compile(schema, physical)
    err.isLeft shouldBe true
    err.left.toOption.get should include("ghost")
    // and the bind report carries the same diagnosis
    ConstraintCompiler.bindReport(schema, physical)
      .find(_.column == "<dependencies>").map(_.status) shouldBe Some("uncompilable")
    // trigger column absent from the table: dependency is vacuous, not an error
    val schemaVacuous = TableSchemaCompiler.compileString("""
      { "type": "object",
        "properties": { "b": { "type": "string" } },
        "dependencies": { "gone": ["b"] } }""").toOption.get
    val phys2 = StructType(Seq(StructField("b", StringType)))
    ConstraintCompiler.compile(schemaVacuous, phys2).isRight shouldBe true
  }

  /** One case per kind of bind error: the table schema's properties
    * (and any other root keywords), the physical schema, the bind row
    * that kind yields, and `compile`'s message (an uncompilable row
    * carries it as its detail).
    */
  private case class BindError(kind: String, properties: String, physical: StructType,
                               column: String, status: String, message: String, root: String = "")

  private val int = StructField("x", IntegerType)
  private val bindErrors = Seq(
    BindError("a declared type incompatible with the physical type",
      """"x": { "type": "string" }""", StructType(Seq(int)), "x", "uncompilable",
      "column x: declared types string incompatible with physical type int"),
    BindError("a non-numeric enum literal on a numeric column",
      """"x": { "enum": ["a"] }""", StructType(Seq(int)), "x", "uncompilable",
      """column x: enum value "a" is not numeric (column type int)"""),
    BindError("an enum literal of the wrong kind",
      """"x": { "enum": [1] }""", StructType(Seq(StructField("x", StringType))), "x", "uncompilable",
      "column x: enum value 1 incompatible with column type string"),
    BindError("a required struct property missing",
      """"s": { "type": "object", "required": ["zz"], "properties": { "zz": {} } }""",
      StructType(Seq(StructField("s", StructType(Seq(StructField("a", IntegerType)))))), "s", "uncompilable",
      "column s: required property zz missing from struct struct<a:int>"),
    BindError("a required struct property with no properties entry missing",
      """"s": { "type": "object", "required": ["zz"] }""",
      StructType(Seq(StructField("s", StructType(Seq(StructField("a", IntegerType)))))), "s", "uncompilable",
      "column s: required property zz missing from struct struct<a:int>"),
    BindError("a required column missing",
      """"x": { "type": "integer" }, "gone": { "type": "string" }""", StructType(Seq(int)),
      "gone", "missing_required", "required column gone missing from table schema struct<x:int>",
      root = """, "required": ["gone"]"""),
    BindError("a required column with no properties entry missing",
      """"x": { "type": "integer" }""", StructType(Seq(int)),
      "gone", "missing_required", "required column gone missing from table schema struct<x:int>",
      root = """, "required": ["x", "gone"]"""),
    BindError("a dependency target absent",
      """"x": { "type": "integer" }""", StructType(Seq(int)), "<dependencies>", "uncompilable",
      "dependencies of x references columns absent from the table: ghost",
      root = """, "dependencies": { "x": ["ghost"] }"""),
    BindError("a dependency schema naming an unknown column",
      """"x": { "type": "integer" }""", StructType(Seq(int)), "<dependencies>", "uncompilable",
      "dependency schema references unknown column ghost",
      root = """, "dependencies": { "x": { "type": "object", "properties": { "ghost": { "type": "string" } } } }"""),
    BindError("an error nested in items",
      """"a": { "type": "array", "items": { "type": "string" } }""",
      StructType(Seq(StructField("a", ArrayType(IntegerType)))), "a", "uncompilable",
      "column _element: declared types string incompatible with physical type int"),
    BindError("an error nested in additionalItems",
      """"a": { "type": "array", "items": [ {} ], "additionalItems": { "type": "string" } }""",
      StructType(Seq(StructField("a", ArrayType(IntegerType)))), "a", "uncompilable",
      "column _element: declared types string incompatible with physical type int"),
    BindError("an error nested in map patternProperties",
      """"m": { "type": "object", "patternProperties": { "^k": { "enum": ["v"] } } }""",
      StructType(Seq(StructField("m", MapType(StringType, LongType)))), "m", "uncompilable",
      """column _element: enum value "v" is not numeric (column type bigint)"""),
    BindError("an error nested in map additionalProperties",
      """"m": { "type": "object", "additionalProperties": { "type": "boolean" } }""",
      StructType(Seq(StructField("m", MapType(StringType, LongType)))), "m", "uncompilable",
      "column _element: declared types boolean incompatible with physical type bigint"),
    BindError("an error nested in a oneOf branch",
      """"x": { "oneOf": [ { "type": "integer", "enum": [true] }, { "type": "string" } ] }""",
      StructType(Seq(int)), "x", "uncompilable",
      "column x: enum value true is not numeric (column type int)"))

  "compile" should "return each kind of bind error as a Left that bindReport's row repeats" in {
    bindErrors.foreach { e =>
      withClue(s"${e.kind}: ") {
        val schema = TableSchemaCompiler.compileString(
          s"""{ "type": "object", "properties": { ${e.properties} }${e.root} }""")
          .fold(err => fail(s"schema does not parse: $err"), identity)
        val compiled = scala.util.Try(ConstraintCompiler.compile(schema, e.physical))
        compiled.failed.toOption shouldBe None
        compiled.get shouldBe Left(e.message)
        val detail = if (e.status == "uncompilable") e.message else "declared required; absent from table"
        ConstraintCompiler.bindReport(schema, e.physical).filter(_.column == e.column) shouldBe
          Seq(ConstraintCompiler.ColumnBind(e.column, e.status, detail))
      }
    }
  }

  it should "report the first uncompilable branch of a combinator" in {
    val schema = TableSchemaCompiler.compileString("""
      { "type": "object",
        "properties": { "x": { "anyOf": [ { "enum": ["first"] }, { "enum": ["second"] } ] } } }""").toOption.get
    ConstraintCompiler.compile(schema, StructType(Seq(StructField("x", IntegerType)))) shouldBe
      Left("""column x: enum value "first" is not numeric (column type int)""")
  }

  "required" should "bind a name with no properties entry, after the declared properties" in {
    val ts = TableSchemaCompiler.compileString("""
      { "type": "object", "required": ["role", "conv_id", "turn_idx"],
        "properties": { "conv_id": { "type": "string", "minLength": 1 }, "turn_idx": { "type": "integer" } } }""")
      .fold(e => fail(e), identity)
    ts.columns.toSeq.map { case (n, p) => (n, p.required) } shouldBe
      Seq(("conv_id", true), ("turn_idx", true), ("role", true))
    val physical = StructType(Seq(StructField("conv_id", StringType), StructField("turn_idx", IntegerType)))
    ConstraintCompiler.compile(ts, physical) shouldBe
      Left("required column role missing from table schema struct<conv_id:string,turn_idx:int>")
    ConstraintCompiler.bindReport(ts, physical).map(b => b.column -> b.status) shouldBe
      Seq("conv_id" -> "ok", "turn_idx" -> "ok", "role" -> "missing_required")
  }

  it should "flag the map rows without a key that has no properties entry" in {
    import spark.implicits._
    val df = Seq(("c1", 0, Map("k" -> "v")), ("c1", 1, Map("j" -> "v"))).toDF("conv_id", "turn_idx", "m")
    validate("""
      { "type": "object", "required": ["conv_id", "turn_idx"],
        "properties": {
          "conv_id": { "type": "string" }, "turn_idx": { "type": "integer" },
          "m": { "type": "object", "required": ["k"] } } }""", df) shouldBe Set((1, "properties/k"))
  }

  /** One draft-4 result per keyword of a node that declares no type (or
    * another type than the column's), and per combinator over such a
    * node: each keyword applies exactly to the values of its kind.
    */
  private case class Probe(kind: String, table: Seq[(String, Int, String, Int)], properties: String,
                           expected: Set[(String, String)], root: String = "")

  private val tableA = Seq(("c1", 0, "abc", 5), ("c1", 1, "7", 50))
  private val tableB = Seq(("c1", 0, "xyz", 3), ("c1", 1, "ab", 9))
  private val probes = Seq(
    Probe("a string keyword without a type", tableA, """, "s": { "maxLength": 2 }""",
      Set(("/c1/0/s", "maxLength"))),
    Probe("a number keyword on a string column of a string-or-number node", tableA,
      """, "s": { "type": ["string", "number"], "minimum": 10 }""", Set.empty),
    Probe("a string keyword on an integer column of a string-or-integer node", tableA,
      """, "n": { "type": ["string", "integer"], "maxLength": 1 }""", Set.empty),
    Probe("a schema-form dependency without a type", tableA, "", Set(("/c1/1/s", "dependencies")),
      root = """, "dependencies": { "s": { "properties": { "n": { "type": "integer", "maximum": 10 } } } }"""),
    Probe("not over an untyped number keyword", tableB, """, "n": { "type": "integer", "not": { "minimum": 5 } }""",
      Set(("/c1/1/n", "not"))),
    Probe("not over an untyped string keyword", tableB, """, "s": { "type": "string", "not": { "pattern": "^x" } }""",
      Set(("/c1/0/s", "not"))),
    Probe("anyOf over untyped string keywords", tableB,
      """, "s": { "type": "string", "anyOf": [ { "maxLength": 1 }, { "pattern": "^q" } ] }""",
      Set(("/c1/0/s", "anyOf"), ("/c1/1/s", "anyOf"))))

  "a keyword" should "apply to the values of its kind whatever the node's type" in {
    import spark.implicits._
    probes.foreach { p =>
      withClue(s"${p.kind}: ") {
        val ts = TableSchemaCompiler.compileString(
          s"""{ "type": "object", "required": ["conv_id", "turn_idx"],
             |  "properties": { "conv_id": { "type": "string" }, "turn_idx": { "type": "integer" }${p.properties} }
             |  ${p.root} }""".stripMargin).fold(e => fail(e), identity)
        val df = p.table.toDF("conv_id", "turn_idx", "s", "n")
        Validator.violations(df, ts, Seq("conv_id", "turn_idx"))
          .collect().map(r => (r.getAs[String]("pointer"), r.getAs[String]("constraint"))).toSet shouldBe p.expected
        if (p.expected.isEmpty)
          Validator.checksOf(df, ts).map(_.column).filterNot(Set("conv_id", "turn_idx")) shouldBe empty
      }
    }
  }
}
