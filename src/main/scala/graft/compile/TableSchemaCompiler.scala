package graft.compile

import scala.collection.immutable.ListMap
import graft.model._

/** Binds a parsed root [[SchemaDoc]] to a flat table: the root must be an
  * object schema and its `properties` become per-column constraint sets.
  * This is the bridge between the reference's document model and the
  * engine's tabular data plane (SURVEY.md §1.2 "Spark mapping").
  */
final case class TableSchema(columns: ListMap[String, Property], root: SchemaDoc)

object TableSchemaCompiler {

  def compile(root: SchemaDoc): Either[String, TableSchema] =
    if (!root.types.contains(SimpleType.jsonObject))
      Left(s"table schema must declare type 'object', got ${root.types.mkString(",")}")
    else root.obj match {
      case Some(o) if o.properties.nonEmpty => Right(TableSchema(o.properties, root))
      case Some(_)                          => Left("table schema declares no properties")
      case None                             => Left("table schema has no object constraints")
    }

  def compileString(schemaJson: String): Either[String, TableSchema] =
    SchemaParser.parseString(schemaJson).flatMap(compile)
}
