package graft.compile

import java.net.URI
import org.json4s._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import graft.model._

/** Constraint-compilation golden tests re-expressed from the reference's
  * `JsonSchemaParserTest.scala` (scope matrix `:119-182`, `$ref` handling
  * `:184-274`, `$schema` gating `:76-96`, enum `:276-285`) and
  * `DecodersTest.scala:24-79` (strict sets), plus the documented
  * divergences of SURVEY.md §4 (integer-bounds quirk,
  * additionalProperties quirk).
  */
class SchemaParserSpec extends AnyFlatSpec with Matchers {

  private def parse(s: String): Either[String, SchemaDoc] = SchemaParser.parseString(s)

  "SchemaParser" should "parse empty schemas" in {
    parse("{}").isRight shouldBe true
  }

  it should "parse optional fields and reject bad field types" in {
    parse("""{"title":"root"}""").map(_.title) shouldBe Right(Some("root"))
    parse("""{"title":10}""").left.getOrElse("") should include("title")
  }

  it should "parse nested schemas under non-reserved fields" in {
    val r = parse("""
      {
        "title": "root",
        "otherSchema": { "title": "nested", "anotherSchema": { "title": "alsoNested" } }
      }""")
    r.map(_.title) shouldBe Right(Some("root"))
    r.map(_.nestedSchemas("otherSchema").title) shouldBe Right(Some("nested"))
    r.map(_.nestedSchemas("otherSchema").nestedSchemas("anotherSchema").title) shouldBe Right(Some("alsoNested"))
  }

  it should "validate $schema versions (draft-04 ok, draft-03 rejected)" in {
    parse("""{"$schema":"http://json-schema.org/schema#"}""")
      .map(_.schemaVersion) shouldBe Right(Some(new URI("http://json-schema.org/schema#")))
    parse("""{"$schema":"http://json-schema.org/draft-04/schema#"}""")
      .map(_.schemaVersion) shouldBe Right(Some(new URI("http://json-schema.org/draft-04/schema#")))
    parse("""{"$schema":"http://json-schema.org/draft-03/schema#"}""")
      .left.getOrElse("") should include("not supported schema")
  }

  it should "validate ids and compute root scope" in {
    parse("""{"id":"http://x.y.z/rootschema.json#"}""")
      .map(_.scope) shouldBe Right(new URI("http://x.y.z/rootschema.json#"))
    parse("""{"id":"#nested"}""").map(_.scope) shouldBe Right(new URI("#nested"))
    parse("""{"id":""}""").map(_.schemaVersion) shouldBe Right(None)
  }

  it should "resolve nested scopes against parent schema scope (reference scope matrix :119-152)" in {
    val r = parse("""
      {
        "id": "http://x.y.z/rootschema.json#",
        "schema1": { "id": "#foo" },
        "schema2": {
          "id": "otherschema.json",
          "nested": { "id": "#bar" },
          "alsonested": { "id": "t/inner.json#a" }
        },
        "schema3": { "id": "some://where.else/completely#" }
      }""")
    r.map(_.scope) shouldBe Right(new URI("http://x.y.z/rootschema.json#"))
    r.map(_.nestedSchemas("schema1").scope) shouldBe Right(new URI("http://x.y.z/rootschema.json#foo"))
    r.map(_.nestedSchemas("schema2").scope) shouldBe Right(new URI("http://x.y.z/otherschema.json#"))
    r.map(_.nestedSchemas("schema2").nestedSchemas("nested").scope) shouldBe
      Right(new URI("http://x.y.z/otherschema.json#bar"))
    r.map(_.nestedSchemas("schema2").nestedSchemas("alsonested").scope) shouldBe
      Right(new URI("http://x.y.z/t/inner.json#a"))
    r.map(_.nestedSchemas("schema3").scope) shouldBe Right(new URI("some://where.else/completely#"))
  }

  it should "fall back to the base uri when no id in scope" in {
    val r = parse("""{ "id": "http://x.y.z/rootschema.json#", "schema4": {} }""")
    r.map(_.nestedSchemas("schema4").scope) shouldBe Right(new URI("http://x.y.z/rootschema.json#"))
  }

  it should "resolve against the empty location when the root has no id" in {
    val r = parse("""{ "$schema":"http://json-schema.org/draft-04/schema#", "schema4": { "id": "#bar" } }""")
    r.map(_.scope) shouldBe Right(new URI("#"))
    r.map(_.nestedSchemas("schema4").scope) shouldBe Right(new URI("#bar"))
  }

  it should "decode schema references via id scopes" in {
    val r = parse("""
      {
        "id": "http://my.site/myschema#",
        "definitions": {
          "schema1": { "id": "schema1", "type": "integer" },
          "schema2": { "type": "array", "items": { "$ref": "schema1" } }
        }
      }""")
    r.map(_.definitions("schema1").scope) shouldBe Right(new URI("http://my.site/schema1#"))
    r.map(_.definitions("schema2").array.get.items.head.scope) shouldBe Right(new URI("http://my.site/schema1#"))
  }

  it should "decode pointer references to the same instance" in {
    val r = parse("""
      {
        "id": "http://my.site/myschema#",
        "definitions": {
          "schema1": { "type": "integer" },
          "schema2": { "type": "array", "items": { "$ref": "#/definitions/schema1" } }
        }
      }""")
    r.map(_.definitions("schema2").array.get.items.head.types) shouldBe Right(Set(SimpleType.integer))
  }

  it should "decode pointer references to an overridden scope" in {
    val r = parse("""
      {
        "id": "product",
        "type": "object",
        "properties": { "a": { "$ref": "#/definitions/overriden" } },
        "definitions": { "typea": { "id": "#/definitions/overriden", "type": "string" } }
      }""")
    r.map(_.scope) shouldBe Right(new URI("product#"))
    r.map(_.obj.get.properties("a").schema.types) shouldBe Right(Set(SimpleType.string))
    r.map(_.obj.get.properties("a").schema.id) shouldBe Right(Some(new URI("product#/definitions/overriden")))
  }

  it should "preserve the loading reference as id (reference :254-274)" in {
    val r = parse("""
      {
        "id": "product",
        "type": "object",
        "properties": { "a": { "$ref": "#/definitions/typea" } },
        "definitions": { "typea": { "type": "string" } }
      }""")
    r.map(_.obj.get.properties("a").schema.types) shouldBe Right(Set(SimpleType.string))
    r.map(_.obj.get.properties("a").schema.id) shouldBe Right(Some(new URI("product#/definitions/typea")))
  }

  it should "decode enums as a strict set" in {
    parse("""{"type":"string","enum":["a","b"]}""")
      .map(_.enums) shouldBe Right(Set[JValue](JString("a"), JString("b")))
    parse("""{"type":"string","enum":["a","a"]}""")
      .left.getOrElse("") should include("duplicates")
    parse("""{"type":"string","enum":[]}""")
      .left.getOrElse("") should include("non-empty")
  }

  it should "reject duplicate required entries (strict set, reference Decoders.scala:71-82)" in {
    parse("""{"type":"object","required":["a","a"],"properties":{"a":{}}}""")
      .left.getOrElse("") should include("duplicates")
  }

  it should "merge required into per-property flags" in {
    val r = parse("""
      {"type":"object","required":["a"],"properties":{"a":{"type":"string"},"b":{"type":"string"}}}""")
    r.map(_.obj.get.properties("a").required) shouldBe Right(true)
    r.map(_.obj.get.properties("b").required) shouldBe Right(false)
  }

  it should "reject non-positive multipleOf (reference :64-65)" in {
    parse("""{"type":"number","multipleOf":0}""").left.getOrElse("") should include("positive")
    parse("""{"type":"number","multipleOf":-2}""").left.getOrElse("") should include("positive")
    parse("""{"type":"number","multipleOf":2}""")
      .map(_.number.get.multipleOf) shouldBe Right(Some(BigDecimal(2)))
  }

  it should "reject negative length bounds, defaulting minLength to 0 (reference :27-41)" in {
    parse("""{"type":"string","minLength":-1}""").left.getOrElse("") should include("greater or equal to 0")
    parse("""{"type":"string","maxLength":10}""").map(_.string.get) shouldBe
      Right(StringConstraint(0, Some(10), None))
  }

  it should "decode exclusive boundaries" in {
    val r = parse("""{"type":"number","minimum":0,"exclusiveMinimum":true,"maximum":10}""")
    r.map(_.number.get.range.min) shouldBe Right(Some(Boundary(BigDecimal(0), exclusive = true)))
    r.map(_.number.get.range.max) shouldBe Right(Some(Boundary(BigDecimal(10), exclusive = false)))
  }

  it should "apply numeric bounds to integer columns (documented divergence from the reference's number-only gate :151)" in {
    // the reference silently drops these bounds; we enforce them (SURVEY §4.3)
    val r = parse("""{"type":"integer","minimum":0,"maximum":4096}""")
    r.map(_.number.isDefined) shouldBe Right(true)
    r.map(_.number.get.range.min) shouldBe Right(Some(Boundary(BigDecimal(0), exclusive = false)))
  }

  it should "treat additionalProperties:false as absent and true as permissive (reference :107-110)" in {
    parse("""{"type":"object","properties":{"a":{}},"additionalProperties":false}""")
      .map(_.obj.get.additionalProperties) shouldBe Right(None)
    parse("""{"type":"object","properties":{"a":{}}}""")
      .map(_.obj.get.additionalProperties) shouldBe Right(None)
    parse("""{"type":"object","properties":{"a":{}},"additionalProperties":true}""")
      .map(_.obj.get.additionalProperties.isDefined) shouldBe Right(true)
  }

  it should "tolerate unknown type names (reference .getOr(Set.empty) :125)" in {
    parse("""{"type":"nosuchtype"}""").map(_.types) shouldBe Right(Set.empty[SimpleType.SimpleType])
    parse("""{"type":["string","string"]}""").map(_.types) shouldBe Right(Set.empty[SimpleType.SimpleType])
  }

  it should "decode dependencies in both forms" in {
    val r = parse("""
      {"type":"object","properties":{"tool":{},"role":{}},
       "dependencies":{"tool":["role"],"extra":{"type":"object","required":["role"],"properties":{"role":{}}}}}""")
    r.map(_.dependencies("tool")) shouldBe Right(Right(Set("role")))
    r.map(_.dependencies("extra").isLeft) shouldBe Right(true)
    parse("""{"dependencies":{"tool":["role","role"]}}""").left.getOrElse("") should include("duplicates")
  }

  it should "terminate on cyclic $refs, leaving the cycle unresolved (reference ReferenceResolver.scala:26-27)" in {
    val r = parse("""
      {
        "id": "http://my.site/cyclic#",
        "type": "object",
        "properties": { "child": { "$ref": "#/properties/parent" }, "parent": { "$ref": "#/properties/child" } }
      }""")
    r.isRight shouldBe true // must not hang or overflow
  }

  it should "compile a table schema from the flagship fixture (FIXTURES.md §2)" in {
    val r = TableSchemaCompiler.compileString(Fixtures.flagshipSchema)
    r.isRight shouldBe (true)
    val ts = r.toOption.get
    ts.columns.keySet shouldBe Set("conv_id", "turn_idx", "role", "text", "tool", "ts")
    ts.columns.collect { case (n, p) if p.required => n }.toSet shouldBe Set("conv_id", "turn_idx", "role", "text", "ts")
    ts.columns("role").schema.enums.size shouldBe 4
    ts.columns("turn_idx").schema.number.get.range.min shouldBe Some(Boundary(BigDecimal(0), exclusive = false))
    // tool resolves through $ref to #/definitions/toolName
    ts.columns("tool").schema.string.get.pattern shouldBe Some("^[a-z][a-z0-9_]*$")
    ts.root.dependencies("tool") shouldBe Right(Set("role"))
  }

  it should "resolve an internal $ref of an in-hand doc under a remote root uri, offline" in {
    // java.net.URI: "s.json" != "s.json#"; the scope seed must alias the
    // empty-fragment form or this falls through to (disabled) network
    val doc = """{ "type": "object",
      "properties": { "a": { "$ref": "#/definitions/d" } },
      "definitions": { "d": { "type": "string" } } }"""
    val r = SchemaParser.parseString(doc, rootUri = new java.net.URI("http://my.site/s.json"))
    r.isRight shouldBe true
    r.toOption.get.obj.get.properties("a").schema.types shouldBe Set(SimpleType.string)
  }

  it should "reject an invalid patternProperties regex at decode time" in {
    val r = parse("""{ "type": "object", "patternProperties": { "[": { "type": "string" } } }""")
    r.isLeft shouldBe true
    r.left.toOption.get should include("patternProperties")
  }

  it should "not record decoded keywords like format as nested schemas" in {
    val r = parse("""{ "type": "string", "format": "date-time" }""")
    r.toOption.get.nestedSchemas shouldBe empty
  }
}
