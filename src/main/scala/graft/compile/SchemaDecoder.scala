package graft.compile

import java.net.URI
import scala.collection.immutable.ListMap
import org.json4s._
import graft.model._
import graft.pointer.JsonPointer

/** Draft-4 keyword decoder: JValue -> [[graft.model.SchemaDoc]].
  *
  * Re-expresses the reference's single-pass decoder
  * (`/root/reference/src/main/scala/json/schema/parser/JsonSchemaDecoder.scala:124-197`)
  * with the same compile-time validations:
  *  - `id` must be a non-empty valid URI (`:56,132`);
  *  - `$schema` must be `http://json-schema.org/schema#` or
  *    `http://json-schema.org/draft-04/schema#` (`:58,239-240`);
  *  - `multipleOf` must be > 0 (`:64-65`);
  *  - length/size bounds must be >= 0, min defaulting to 0 (`:27-41`);
  *  - `required`/`enum` are strict sets: duplicates are a compile error
  *    (`Decoders.scala:71-82`), and must be non-empty;
  *  - `type` decode is *tolerant*: an unknown type name or duplicate
  *    entry yields an empty type set, not an error (the reference's
  *    `.getOr(Set.empty)` at `:125`);
  *  - non-reserved fields decode as nested schemas (`:45-54`); any JSON
  *    value decodes (non-objects yield an empty schema, matching
  *    argonaut's Option-field semantics on non-object cursors);
  *  - scope: root uses `id` or the parent URI; nested nodes resolve
  *    their `id` against the parent scope (`:138-139`).
  *
  * Each keyword family (number, string, array, object) is decoded
  * whenever the node holds one of its keywords, whatever its `type` says
  * (the reference decodes a family only under its type, `:127-128,151`);
  * only `decodeTypes` reads `type`. Which keyword applies to a value is
  * decided from its physical type by [[graft.exprs.ConstraintCompiler]].
  *
  * Documented divergences from the reference (SURVEY.md §4, pinned by
  * golden tests):
  *  - a `required` name with no `properties` entry is a required
  *    property with the permissive schema, not dropped;
  *  - `dependencies` values are decoded by JSON shape (array -> property
  *    set, anything else -> schema) instead of a left-biased either that
  *    could never produce the property form;
  *  - an invalid regex in `pattern` is a compile error (the reference
  *    throws an uncaught exception).
  */
object SchemaDecoder {

  private val validSchemaVersions = Set(
    "http://json-schema.org/schema#",
    "http://json-schema.org/draft-04/schema#")

  private val numberKeywords = Set("multipleOf", "maximum", "exclusiveMaximum", "minimum", "exclusiveMinimum")
  private val stringKeywords = Set("maxLength", "minLength", "pattern")
  private val arrayKeywords = Set("additionalItems", "items", "maxItems", "minItems", "uniqueItems")
  private val objectKeywords = Set("maxProperties", "minProperties", "required", "additionalProperties",
    "properties", "patternProperties")
  private val reservedFields = numberKeywords ++ stringKeywords ++ arrayKeywords ++ objectKeywords ++ Set(
    "id", "title", "$schema", "description", "default", "definitions", "dependencies",
    "enum", "type", "allOf", "anyOf", "oneOf", "not", "format")

  /** A keyword family's decode when `json` holds any of its keywords. */
  private def family[A](json: JValue, keywords: Set[String])(decode: => Either[String, A]): Either[String, Option[A]] =
    if (keywords.exists(Js.field(json, _).isDefined)) decode.map(Some(_)) else Right(None)

  def decode(parentId: URI, json: JValue): Either[String, SchemaDoc] =
    decodeNode(parentId, json, rootSchema = true)

  private def decodeNode(parentId: URI, json: JValue, rootSchema: Boolean): Either[String, SchemaDoc] =
    for {
      id <- optUri(json, "id").flatMap {
        case Some(u) if u.toString.isEmpty => Left(s"$u is not valid id")
        case other                         => Right(other)
      }
      schemaVersion <- optUri(json, "$schema").flatMap {
        case Some(u) if !validSchemaVersions.contains(u.toString) => Left(s"$u is not supported schema")
        case other => Right(other)
      }
      title <- optString(json, "title")
      description <- optString(json, "description")
      format <- optString(json, "format")

      scope = if (rootSchema) id.getOrElse(parentId)
              else id.fold(parentId)(JsonPointer.resolveAsPointer(parentId, _))

      number <- family(json, numberKeywords)(decodeNumber(json))
      string <- family(json, stringKeywords)(decodeString(json))
      array  <- family(json, arrayKeywords)(decodeArray(scope, json))
      obj    <- family(json, objectKeywords)(decodeObject(scope, json))

      definitions <- orderedSchemaMap(scope, json, "definitions").map(_.toMap)
      dependencies <- decodeDependencies(scope, json)
      enums <- decodeEnum(json)
      anyOf <- listOfSchemas(scope, json, "anyOf")
      allOf <- listOfSchemas(scope, json, "allOf")
      oneOf <- listOfSchemas(scope, json, "oneOf")
      not <- Js.field(json, "not") match {
        case Some(n) => decodeNode(scope, n, rootSchema = false).map(Some(_))
        case None    => Right(None)
      }
      nested <- nestedSchemas(scope, json)
    } yield SchemaDoc(
      scope, id, schemaVersion, number, string, array, obj,
      enums, nested, title, description, format,
      definitions, dependencies, decodeTypes(json), anyOf, allOf, oneOf, not)

  /** Tolerant `type` decode (reference `:125` + `oneOrSetStrict`). */
  private def decodeTypes(json: JValue): Set[SimpleType.SimpleType] = {
    def one(v: JValue): Option[SimpleType.SimpleType] = v match {
      case JString(s) => SimpleType.values.find(_.toString == s)
      case _          => None
    }
    Js.field(json, "type") match {
      case Some(JArray(elems)) =>
        val decoded = elems.map(one)
        if (decoded.forall(_.isDefined) && decoded.nonEmpty) {
          val set = decoded.flatten.toSet
          if (set.size == decoded.size) set else Set.empty // strict: dups -> empty
        } else Set.empty
      case Some(v) => one(v).toSet
      case None    => Set.empty
    }
  }

  private def decodeNumber(json: JValue): Either[String, NumberConstraint] =
    for {
      multipleOf <- optNumber(json, "multipleOf").flatMap {
        case Some(m) if m <= 0 => Left(s"$m must be positive number")
        case other             => Right(other)
      }
      exclusiveMax <- optBoolean(json, "exclusiveMaximum")
      exclusiveMin <- optBoolean(json, "exclusiveMinimum")
      max <- optNumber(json, "maximum").map(_.map(Boundary(_, exclusiveMax.getOrElse(false))))
      min <- optNumber(json, "minimum").map(_.map(Boundary(_, exclusiveMin.getOrElse(false))))
    } yield NumberConstraint(multipleOf, Range(min = min, max = max))

  private def nonNegInt(json: JValue, field: String): Either[String, Option[Int]] =
    Js.field(json, field) match {
      case None => Right(None)
      case Some(v) =>
        Js.asInt(v) match {
          case Some(i) if i >= 0 => Right(Some(i))
          case Some(i)           => Left(s"$i must be greater or equal to 0")
          case None              => Left(s"$field must be an integer: ${Js.compact(v)}")
        }
    }

  private def decodeString(json: JValue): Either[String, StringConstraint] =
    for {
      min <- nonNegInt(json, "minLength")
      max <- nonNegInt(json, "maxLength")
      pattern <- optString(json, "pattern").flatMap {
        case Some(p) =>
          try { java.util.regex.Pattern.compile(p); Right(Some(p)) }
          catch { case e: Exception => Left(s"invalid pattern: ${e.getMessage}") }
        case None => Right(None)
      }
    } yield StringConstraint(min.getOrElse(0), max, pattern)

  private def decodeArray(scope: URI, json: JValue): Either[String, ArrayConstraint] =
    for {
      additional <- Js.field(json, "additionalItems") match {
        case None           => Right(None)
        case Some(JBool(b)) => Right(Some(Left(b)))
        case Some(v)        => decodeNode(scope, v, rootSchema = false).map(s => Some(Right(s)))
      }
      minItems <- nonNegInt(json, "minItems")
      maxItems <- nonNegInt(json, "maxItems")
      itemsAndShape <- Js.field(json, "items") match {
        case None               => Right((Nil, false))
        case Some(JArray(Nil))  => Left("items array must be non-empty")
        case Some(JArray(list)) =>
          // tuple form even when length 1: [s] is positional, s is
          // every-element — conflating them applied the positional
          // schema to all elements and dropped additionalItems
          sequence(list.map(decodeNode(scope, _, rootSchema = false))).map((_, true))
        case Some(v) => decodeNode(scope, v, rootSchema = false).map(s => (List(s), false))
      }
      unique <- optBoolean(json, "uniqueItems")
    } yield ArrayConstraint(itemsAndShape._1, additional, minItems.getOrElse(0), maxItems,
      unique.getOrElse(false), tupleItems = itemsAndShape._2)

  private def decodeObject(scope: URI, json: JValue): Either[String, ObjectConstraint] =
    for {
      minProps <- nonNegInt(json, "minProperties")
      maxProps <- nonNegInt(json, "maxProperties")
      additional <- Js.field(json, "additionalProperties") match {
        case None               => Right(None)
        // quirk replicated (reference :107-110): false ≡ absent -> None
        case Some(JBool(false)) => Right(None)
        case Some(JBool(true))  => Right(Some(SchemaDoc(scope)))
        case Some(v)            => decodeNode(scope, v, rootSchema = false).map(Some(_))
      }
      props <- orderedSchemaMap(scope, json, "properties")
      patternProps <- orderedSchemaMap(scope, json, "patternProperties").flatMap { pp =>
        // same decode-time contract as `pattern`: an invalid regex is a
        // compile error here, not a bind-time PatternSyntaxException or
        // a per-batch executor failure in rlike
        pp.collectFirst {
          case (pat, _) if scala.util.Try(java.util.regex.Pattern.compile(pat)).isFailure =>
            s"invalid patternProperties regex: $pat"
        }.toLeft(pp)
      }
      required <- decodeRequired(json)
    } yield ObjectConstraint(
      additional,
      props.map { case (k, s) => k -> Property(required.contains(k), s) } ++
        required.filterNot(props.contains).map(_ -> Property(required = true, SchemaDoc(scope))),
      patternProps.toList,
      minProps.getOrElse(0), maxProps)

  private def decodeRequired(json: JValue): Either[String, List[String]] =
    Js.field(json, "required") match {
      case None => Right(Nil)
      case Some(JArray(elems)) =>
        val strs = elems.collect { case JString(s) => s }
        if (strs.size != elems.size) Left("required must be an array of strings")
        else if (strs.isEmpty) Left("required must be non-empty")
        else if (strs.toSet.size != strs.size) Left("required contains duplicates")
        else Right(strs)
      case Some(v) => Left(s"required must be an array: ${Js.compact(v)}")
    }

  private def decodeEnum(json: JValue): Either[String, Set[JValue]] =
    Js.field(json, "enum") match {
      case None => Right(Set.empty)
      case Some(JArray(elems)) =>
        if (elems.isEmpty) Left("enum must be non-empty")
        else if (elems.toSet.size != elems.size) Left("enum contains duplicates")
        else Right(elems.toSet)
      case Some(v) => Left(s"enum must be an array: ${Js.compact(v)}")
    }

  private def decodeDependencies(scope: URI, json: JValue): Either[String, Map[String, Either[SchemaDoc, Set[String]]]] =
    Js.field(json, "dependencies") match {
      case None => Right(Map.empty)
      case Some(JObject(fields)) =>
        sequence(fields.map {
          case (k, JArray(elems)) =>
            val strs = elems.collect { case JString(s) => s }
            if (strs.size != elems.size) Left(s"dependency $k must list property names")
            else if (strs.isEmpty) Left(s"dependency $k must be non-empty")
            else if (strs.toSet.size != strs.size) Left(s"dependency $k contains duplicates")
            else Right(k -> Right(strs.toSet))
          case (k, v) => decodeNode(scope, v, rootSchema = false).map(s => k -> Left(s))
        }).map(_.toMap)
      case Some(v) => Left(s"dependencies must be an object: ${Js.compact(v)}")
    }

  private def listOfSchemas(scope: URI, json: JValue, field: String): Either[String, List[SchemaDoc]] =
    Js.field(json, field) match {
      case None               => Right(Nil)
      case Some(JArray(Nil))  => Left(s"$field must be non-empty")
      case Some(JArray(list)) => sequence(list.map(decodeNode(scope, _, rootSchema = false)))
      case Some(v)            => decodeNode(scope, v, rootSchema = false).map(List(_))
    }

  private def orderedSchemaMap(scope: URI, json: JValue, field: String): Either[String, ListMap[String, SchemaDoc]] =
    Js.field(json, field) match {
      case None => Right(ListMap.empty)
      case Some(JObject(fields)) =>
        fields.foldLeft(Right(ListMap.empty): Either[String, ListMap[String, SchemaDoc]]) {
          case (acc, (k, v)) =>
            for (m <- acc; s <- decodeNode(scope, v, rootSchema = false)) yield m + (k -> s)
        }
      case Some(v) => Left(s"$field must be an object: ${Js.compact(v)}")
    }

  private def nestedSchemas(scope: URI, json: JValue): Either[String, Map[String, SchemaDoc]] =
    json match {
      case JObject(fields) =>
        sequence(fields.filterNot(f => reservedFields.contains(f._1)).map {
          case (k, v) => decodeNode(scope, v, rootSchema = false).map(k -> _)
        }).map(_.toMap)
      case _ => Right(Map.empty)
    }

  /** `field`'s value read by `read`, or an error naming the expected `kind`. */
  private def opt[A](json: JValue, field: String, kind: String)(read: PartialFunction[JValue, A]): Either[String, Option[A]] =
    Js.field(json, field) match {
      case None    => Right(None)
      case Some(v) => read.lift(v).map(Some(_)).toRight(s"$field must be $kind: ${Js.compact(v)}")
    }

  private def optString(json: JValue, field: String) = opt(json, field, "a string") { case JString(s) => s }
  private def optBoolean(json: JValue, field: String) = opt(json, field, "a boolean") { case JBool(b) => b }
  private def optNumber(json: JValue, field: String) = opt(json, field, "a number")(Function.unlift(Js.asNumber))

  private def optUri(json: JValue, field: String): Either[String, Option[URI]] =
    Js.field(json, field) match {
      case None             => Right(None)
      case Some(JString(s)) => Js.parseUri(s).map(Some(_))
      case Some(v)          => Left(s"$field must be a uri string: ${Js.compact(v)}")
    }

  private def sequence[A](xs: List[Either[String, A]]): Either[String, List[A]] =
    xs.foldRight(Right(Nil): Either[String, List[A]]) { (e, acc) =>
      for (h <- e; t <- acc) yield h :: t
    }
}
