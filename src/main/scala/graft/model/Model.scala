package graft.model

import java.net.URI
import scala.collection.immutable.ListMap
import org.json4s.JValue

/** Constraint model of the validation engine.
  *
  * Mirrors the JSON-Schema draft-4 vocabulary of the reference
  * (`/root/reference/src/main/scala/json/schema/parser/model.scala:25-94`)
  * as an idiomatic Scala ADT, decoupled from any JSON library on the
  * data plane. The model is a *compile-time* artifact: it is produced
  * driver-side by [[graft.compile.SchemaParser]] and compiled into
  * Catalyst `Column` trees by [[graft.exprs.ConstraintCompiler]].
  */
object SimpleType extends Enumeration {
  type SimpleType = Value
  val array, boolean, integer, number, string = Value
  val jsonNull = Value("null")
  val jsonObject = Value("object")
}

/** Open/closed numeric bound (reference `model.scala:25-45`). */
final case class Boundary(value: BigDecimal, exclusive: Boolean)

/** Optional min/max pair (reference `model.scala:47`). */
final case class Range[T](min: Option[T] = None, max: Option[T] = None)

/** multipleOf + value range (reference `model.scala:55`). */
final case class NumberConstraint(
    multipleOf: Option[BigDecimal],
    range: Range[Boundary])

/** length range + pattern (reference `model.scala:57`).
  * minLength defaults to 0 (reference `JsonSchemaDecoder.scala:41`).
  */
final case class StringConstraint(
    minLength: Int = 0,
    maxLength: Option[Int] = None,
    pattern: Option[String] = None)

/** items / additionalItems / size bounds / uniqueItems
  * (reference `model.scala:59-63`).
  *
  * `tupleItems` records the JSON shape of `items`: `[s]` (tuple form,
  * positional — element 0 constrained, the rest governed only by
  * additionalItems) and `s` (schema form — EVERY element constrained)
  * have different draft-4 semantics even when the list has one entry,
  * and the list alone cannot distinguish them.
  */
final case class ArrayConstraint(
    items: List[SchemaDoc],
    additionalItems: Option[Either[Boolean, SchemaDoc]],
    minItems: Int = 0,
    maxItems: Option[Int] = None,
    uniqueItems: Boolean = false,
    tupleItems: Boolean = false)

/** Per-field requiredness merged from the object-level `required` array
  * (reference `model.scala:53`, `JsonSchemaDecoder.scala:111-116`).
  */
final case class Property(required: Boolean, schema: SchemaDoc)

/** properties / patternProperties / additionalProperties / size bounds
  * (reference `model.scala:65-69`). Insertion order of `properties` is
  * preserved (ListMap), pinning the reference's deterministic ordering.
  *
  * `additionalProperties` quirk replicated from the reference
  * (`JsonSchemaDecoder.scala:107-110`): `false` and *absent* both
  * compile to None; `true` compiles to an empty permissive schema.
  */
final case class ObjectConstraint(
    additionalProperties: Option[SchemaDoc],
    properties: ListMap[String, Property],
    patternProperties: List[(String, SchemaDoc)],
    minProperties: Int = 0,
    maxProperties: Option[Int] = None)

/** The whole draft-4 vocabulary for one schema node
  * (reference `model.scala:71-94`).
  */
final case class SchemaDoc(
    scope: URI,
    id: Option[URI] = None,
    schemaVersion: Option[URI] = None,
    number: Option[NumberConstraint] = None,
    string: Option[StringConstraint] = None,
    array: Option[ArrayConstraint] = None,
    obj: Option[ObjectConstraint] = None,
    enums: Set[JValue] = Set.empty,
    nestedSchemas: Map[String, SchemaDoc] = Map.empty,
    title: Option[String] = None,
    description: Option[String] = None,
    format: Option[String] = None,
    definitions: Map[String, SchemaDoc] = Map.empty,
    dependencies: Map[String, Either[SchemaDoc, Set[String]]] = Map.empty,
    types: Set[SimpleType.SimpleType] = Set.empty,
    anyOf: List[SchemaDoc] = Nil,
    allOf: List[SchemaDoc] = Nil,
    oneOf: List[SchemaDoc] = Nil,
    not: Option[SchemaDoc] = None) {
  override def toString: String = s"SchemaDoc(${id.getOrElse(scope)})"
}
