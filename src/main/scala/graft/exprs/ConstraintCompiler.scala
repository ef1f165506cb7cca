package graft.exprs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import graft.model._
import graft.compile.TableSchema

/** Compiles a [[graft.compile.TableSchema]] into Catalyst `Column` trees.
  *
  * This is the engine's data plane: every draft-4 keyword the reference
  * *parses* (`/root/reference/src/main/scala/json/schema/parser/JsonSchemaDecoder.scala:124-197`)
  * becomes an executable predicate over table columns (SURVEY.md §2b),
  * fused into ONE per-partition scan:
  * a single `select` builds an array of violation structs (one
  * `when(violated, struct(...))` per constraint), then a codegen'd
  * lambda `filter` + `explode` emits typed violation rows. No shuffle,
  * no UDFs — everything stays inside whole-stage codegen, so the same
  * plan that validates 60k rows locally validates 10^12 rows on a
  * cluster, bounded by scan throughput.
  *
  * Null semantics: value constraints (enum/pattern/bounds/...) pass on
  * NULL; nullness is reported by the `required` constraint only. This
  * matches JSON-Schema, where `required` is the only keyword that sees
  * absent values.
  *
  * Which keywords apply is decided here alone, from the physical type
  * (the decoder records every keyword whatever the node's `type`), as
  * draft-4 applies each keyword to the instances of its kind: number
  * keywords to numeric columns, string keywords and `format` to columns
  * that hold strings ([[holdsStrings]]), array keywords to arrays and
  * object keywords to maps and structs. `type` and `enum` apply to all.
  */
object ConstraintCompiler {

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  private def isFractional(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType | _: DecimalType => true
    case _ => false
  }
  private def isDateTime(dt: DataType): Boolean = dt == TimestampType || dt == TimestampNTZType || dt == DateType

  /** A column that holds strings: a string column, or a timestamp or
    * date column under `format: date-time` (its values are date-time
    * strings).
    */
  private def holdsStrings(doc: SchemaDoc, dt: DataType): Boolean =
    dt == StringType || (isDateTime(dt) && doc.format.contains("date-time"))

  /** True when a schema node carries no checkable constraint at all
    * (the permissive `{}` / `true` schema) — its predicate is `lit(true)`.
    */
  private def isPermissive(d: SchemaDoc): Boolean =
    d.types.isEmpty && d.enums.isEmpty && d.string.isEmpty && d.number.isEmpty &&
      d.array.isEmpty && d.obj.isEmpty && d.format.isEmpty &&
      d.allOf.isEmpty && d.anyOf.isEmpty && d.oneOf.isEmpty && d.not.isEmpty

  /** One compiled constraint: `ok` is a never-null boolean Column;
    * `actual` renders the offending value for the violation row.
    */
  final case class Check(column: String, constraint: String, ok: Column, actual: Column)

  /** JSON-pointer path to a field of a keyed row, with RFC 6901 escapes
    * applied to the (dynamic) key value via codegen'd regexp_replace —
    * `~` -> `~0`, `/` -> `~1` (semantics of the reference's
    * `JsonPointer.scala:36-42`, lifted from parse-time to emit-time).
    */
  def pointerEscape(c: Column): Column =
    // fast path: keys are overwhelmingly plain (numeric ids, uuids) —
    // a byte-scan contains() check skips both regex executions then
    // (measured: pointer rendering was 63% of v_maps emission cost)
    when(c.contains("~") || c.contains("/"),
      regexp_replace(regexp_replace(c, "~", "~0"), "/", "~1"))
      .otherwise(c)

  /** Count of "present" properties of a struct value: non-null fields
    * (a struct physically carries every field; null == absent), as
    * min/maxProperties validation counts them.
    */
  def structPresentCount(c: Column, st: StructType): Column =
    st.fieldNames.toSeq.map(f => when(c.getField(f).isNotNull, 1).otherwise(0))
      .reduceOption(_ + _).getOrElse(lit(0))

  /** Container `actual` renderer: the codegen [[graft.functions
    * .JsonRender]] whenever the column's type tree supports it (byte-
    * identical to to_json there — JsonRenderSpec parity + the v_* oracle
    * gates), falling back to `to_json` (interpreted, CodegenFallback)
    * only for exotic leaves. Violation plans over array/map/struct
    * columns stay fully inside whole-stage codegen this way.
    */
  private def jsonActual(c: Column, dt: DataType): Column = {
    // JsonRender pins to_json's DEFAULT semantics: null struct fields
    // OMITTED. A session setting spark.sql.jsonGenerator.ignoreNullFields
    // to false makes to_json render them as `"f":null`, so a
    // struct-bearing tree must fall back to to_json there or the two
    // renderers in one plan would disagree. Read once at compile time —
    // the compiled plan pins whichever setting was active.
    val ignoreNullFields =
      org.apache.spark.sql.internal.SQLConf.get.jsonGeneratorIgnoreNullFields
    val rendered =
      if (graft.functions.JsonRender.supports(dt) &&
          (ignoreNullFields || !containsStruct(dt)))
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.JsonRender(org.apache.spark.sql.GraftSqlBridge.expression(c)))
      else to_json(c)
    coalesce(rendered, lit("null"))
  }

  private def containsStruct(dt: DataType): Boolean = dt match {
    case _: StructType => true
    case ArrayType(et, _) => containsStruct(et)
    case MapType(_, vt, _) => containsStruct(vt)
    case _ => false
  }

  /** The escaped "/k1/k2/" key-prefix parts — ONE definition shared by
    * [[pointerCol]] and the hoisted per-row prefix in
    * [[Validator.violationsForChecks]], so the two can never render
    * pointers differently.
    */
  private[exprs] def pointerPrefixParts(keyCols: Seq[String]): Seq[Column] =
    keyCols.flatMap { k =>
      Seq(lit("/"), coalesce(pointerEscape(tableColumn(k).cast("string")), lit("null")))
    } :+ lit("/")

  def pointerCol(keyCols: Seq[String], column: String): Column =
    concat(pointerPrefixParts(keyCols) :+ lit(column): _*)

  /** The `Column` of a table column by its name, quoted so that a dot or
    * a backtick in the name is part of the name, never a field access.
    */
  def tableColumn(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** A keyword that cannot bind to the physical type: thrown where the
    * keyword fails, caught only at the column boundary of [[bindWalk]].
    */
  private final class CompileError(message: String) extends Exception(message, null, false, false)

  private def fail(message: String): Nothing = throw new CompileError(message)

  /** Builds the value checks of expression `c`, labelled `name`: NULL
    * passes (nullness is `required`'s alone), and `actual` renders the
    * offending value.
    */
  private final case class Checker(name: String, c: Column, actual: Column) {
    def apply(constraint: String, pred: Column): Check = Check(name, constraint, c.isNull || pred, actual)
  }

  private def conjunction(preds: Seq[Column]): Column = preds.reduceOption(_ && _).getOrElse(lit(true))

  /** All checks for one column under its Property. */
  private def columnChecks(name: String, prop: Property, dt: DataType): Seq[Check] = {
    val c = tableColumn(name)
    val base = if (prop.required) Seq(Check(name, "required", c.isNotNull, lit("null"))) else Nil
    base ++ valueChecks(name, c, prop.schema, dt)
  }

  /** Conjunction of all value checks of `doc` applied to an arbitrary
    * expression (array elements, map values, ...). Null values pass.
    */
  private def predicateFor(doc: SchemaDoc, dt: DataType, x: Column): Column =
    conjunction(valueChecks("_element", x, doc, dt).map(_.ok))

  /** Value-level checks of one schema doc applied to expression `c`
    * (labelled `name` in emitted violations), keyword families in a
    * fixed order: the first that cannot bind is the column's error. A
    * family applies only to the physical types of its kind.
    */
  private def valueChecks(name: String, c: Column, doc: SchemaDoc, dt: DataType): Seq[Check] =
    if (dt == NullType) Nil // all-null column: every value check passes
    else {
      val ok = Checker(name, c, coalesce(c.cast("string"), lit("null")))
      val types = typeCheck(ok, doc, dt)
      val enums = enumCheck(ok, doc, dt)
      val numeric = doc.number.filter(_ => dt.isInstanceOf[NumericType]).toSeq.flatMap { nc =>
        // keep bound literals in the column's arithmetic family so
        // Catalyst doesn't widen an integral column to double (better
        // codegen + parquet pushdown when the filter form is used)
        def boundLit(v: BigDecimal): Column = dt match {
          case t if v.isWhole && v.isValidLong && isIntegral(t) => lit(v.toLong)
          // beyond-long or fractional bound on an integral column:
          // compare in decimal (Catalyst widens the column) — v.toLong
          // would WRAP (minimum: 2^63 silently became Long.MinValue and
          // passed everything)
          case t if isIntegral(t) => lit(v.underlying())
          // decimal columns compare in exact decimal arithmetic (same
          // guarantee as the multipleOf path below) — lowering to double
          // would lose precision on high-scale bounds
          case _: DecimalType => lit(v.underlying())
          case _ => lit(v.toDouble)
        }
        Seq(
          nc.range.min.map { b =>
            if (b.exclusive) ok("exclusiveMinimum", c > boundLit(b.value)) else ok("minimum", c >= boundLit(b.value))
          },
          nc.range.max.map { b =>
            if (b.exclusive) ok("exclusiveMaximum", c < boundLit(b.value)) else ok("maximum", c <= boundLit(b.value))
          },
          nc.multipleOf.map { k =>
            // exactness via decimal remainder (SURVEY §7 hard parts):
            // integral columns stay in integer arithmetic, fractional
            // columns go through DecimalType to avoid float remainder
            ok("multipleOf", dt match {
              case t if isIntegral(t) && k.isWhole && k.isValidLong =>
                c % lit(k.toLong) === lit(0L)
              case _ =>
                // try_cast: under ANSI (Spark 4 default) a plain cast
                // THROWS on magnitudes beyond decimal(38,12)'s 26
                // integral digits, killing the scan on garbage data a
                // validator exists to classify. Overflowing values fall
                // back to a double remainder — approximate at >=1e26,
                // but classified instead of crashed.
                val dec = c.try_cast(DecimalType(38, 12))
                when(dec.isNotNull,
                  dec % lit(k.underlying()) === lit(BigDecimal(0).underlying()))
                  .otherwise(pmod(c.cast("double"), lit(k.toDouble)) === lit(0.0))
            })
          }
        ).flatten
      }
      val strings = doc.string.filter(_ => holdsStrings(doc, dt)).toSeq.flatMap { sc =>
        Seq(
          if (sc.minLength > 0) Some(ok("minLength", length(c) >= lit(sc.minLength))) else None,
          sc.maxLength.map(m => ok("maxLength", length(c) <= lit(m))),
          // anchored literal/char-class patterns take the codegen'd
          // byte-loop fast path (~45% of full-pass cost was
          // java.util.regex); anything else falls back to rlike
          sc.pattern.map(p => ok("pattern", graft.functions.SimplePatternMatch.tryColumn(c, p).getOrElse(c.rlike(p))))
        ).flatten
      }
      val format = formatCheck(ok, doc, dt)
      val arrays = arrayChecks(ok, doc, dt)
      val maps = mapChecks(ok, doc, dt)
      types ++ enums ++ numeric ++ strings ++ format ++ arrays ++ maps ++ combinatorChecks(ok, doc, dt)
    }

  // element-level forall on the whole-stage-codegen path: Spark's HOF
  // `forall` is CodegenFallback (interpreted lambda dispatch per element),
  // which at wide-array scale becomes the scan bottleneck; ForAllExpr
  // splices the compiled element predicate into a generated loop
  // (equivalence pinned by ForAllSpec against the HOF form). It applies
  // `f` at once, so an element schema's CompileError surfaces here.
  private def forallCg(arr: Column, elemType: DataType)(f: Column => Column): Column =
    graft.functions.ForAllFunctions.forallCodegen(arr, elemType, f)

  /** Array-column constraints (SURVEY §2b items/additionalItems/
    * uniqueItems/size rows): size bounds, element-level `items` schema
    * via the codegen'd forall, tuple-form positional items,
    * additionalItems over the tail slice, uniqueItems via array_distinct.
    */
  private def arrayChecks(scalar: Checker, doc: SchemaDoc, dt: DataType): Seq[Check] =
    (doc.array, dt) match {
      case (Some(ac), at: ArrayType) =>
        val c = scalar.c
        val ok = scalar.copy(actual = jsonActual(c, at))
        val et = at.elementType
        val sizeChecks = Seq(
          if (ac.minItems > 0) Some(ok("minItems", size(c) >= lit(ac.minItems))) else None,
          ac.maxItems.map(m => ok("maxItems", size(c) <= lit(m))),
          if (ac.uniqueItems) Some(ok("uniqueItems", size(array_distinct(c)) === size(c))) else None).flatten
        val itemChecks = ac.items match {
          case Nil => Nil
          // schema-form items: EVERY element must match. (A one-entry
          // TUPLE form falls through to the positional branch below.)
          case single :: Nil if !ac.tupleItems =>
            Seq(ok("items", forallCg(c, et)(x => predicateFor(single, et, x))))
          case tuple =>
            val positional = tuple.zipWithIndex.map { case (sub, i) =>
              ok(s"items[$i]", size(c) <= i || predicateFor(sub, et, element_at(c, i + 1)))
            }
            positional ++ (ac.additionalItems match {
              case Some(Left(false)) => Seq(ok("additionalItems", size(c) <= tuple.size))
              case Some(Right(sub)) =>
                val tail = slice(c, lit(tuple.size + 1), greatest(size(c) - tuple.size, lit(0)))
                Seq(ok("additionalItems", forallCg(tail, et)(x => predicateFor(sub, et, x))))
              case _ => Nil
            })
        }
        sizeChecks ++ itemChecks
      case _ => Nil
    }

  /** Map-column constraints (SURVEY §2b properties/patternProperties/
    * additionalProperties/size rows): key-count bounds, per-declared-key
    * requiredness + value checks, pattern-keyed value checks, and
    * additionalProperties over undeclared keys (the reference's
    * false≡absent quirk applies: only the schema form checks anything).
    */
  private def mapChecks(scalar: Checker, doc: SchemaDoc, dt: DataType): Seq[Check] = {
    val c = scalar.c
    (doc.obj, dt) match {
      case (Some(oc), mt: MapType) =>
        val ok = scalar.copy(actual = jsonActual(c, mt))
        val vt = mt.valueType
        val sizeChecks = Seq(
          if (oc.minProperties > 0) Some(ok("minProperties", size(map_keys(c)) >= lit(oc.minProperties))) else None,
          oc.maxProperties.map(m => ok("maxProperties", size(map_keys(c)) <= lit(m)))
        ).flatten
        val propChecks = oc.properties.toSeq.map { case (k, prop) =>
          val p = predicateFor(prop.schema, vt, try_element_at(c, lit(k)))
          val reqPred = if (prop.required) map_contains_key(c, lit(k)) else lit(true)
          ok(s"properties/$k", reqPred && p)
        }
        val patternChecks = oc.patternProperties.map { case (pat, sub) =>
          ok("patternProperties", forallCg(map_keys(c), mt.keyType)(k =>
            !k.cast("string").rlike(pat) || predicateFor(sub, vt, try_element_at(c, k))))
        }
        val additionalChecks = oc.additionalProperties match {
          // compile any constraint-carrying sub-schema (incl. combinator /
          // array / object forms — gating on scalar keywords only would
          // fail open); skip only the empty permissive schema (`true`)
          case Some(sub) if !isPermissive(sub) =>
            val declared = oc.properties.keys.toSeq
            // draft-4 §5.4.4: a key is "additional" only if it matches
            // neither `properties` nor any `patternProperties` regex
            def exempt(k: Column): Column = {
              val byName =
                if (declared.nonEmpty) k.cast("string").isin(declared: _*) else lit(false)
              oc.patternProperties.map { case (pat, _) => k.cast("string").rlike(pat) }
                .foldLeft(byName)(_ || _)
            }
            Seq(ok("additionalProperties", forallCg(map_keys(c), mt.keyType)(k =>
              exempt(k) || predicateFor(sub, vt, try_element_at(c, k)))))
          case _ => Nil // absent, false (quirk), or permissive true
        }
        sizeChecks ++ propChecks ++ patternChecks ++ additionalChecks

      // Struct-typed columns: same draft-4 object vocabulary, but the key
      // set is STATIC (the struct's fields), so everything compiles to
      // per-field `getField` checks — pure codegen, no per-key lambdas.
      // A property is "present" when its field is non-null (a struct
      // physically carries every field; null == absent), which pins
      // `required` and the min/maxProperties counts. Without this branch
      // an object schema on a struct column would compile to ZERO checks
      // and fail open (silently passing violations).
      case (Some(oc), st: StructType) =>
        val ok = scalar.copy(actual = jsonActual(c, st))
        // rlike is a regex *find* (unanchored); match that semantics when
        // deciding key-pattern membership at compile time
        def keyMatches(pat: String, field: String): Boolean =
          pat.r.findFirstIn(field).isDefined
        // one check over the fields a keyword reaches, none when it
        // reaches no field
        def fieldsCheck(constraint: String, sub: SchemaDoc, fields: Seq[StructField]): Option[Check] =
          fields.map(f => predicateFor(sub, f.dataType, c.getField(f.name))).reduceOption(_ && _)
            .map(ok(constraint, _))
        val presentCount = structPresentCount(c, st)
        val sizeChecks = Seq(
          if (oc.minProperties > 0) Some(ok("minProperties", presentCount >= lit(oc.minProperties))) else None,
          oc.maxProperties.map(m => ok("maxProperties", presentCount <= lit(m)))
        ).flatten
        val propChecks = oc.properties.toSeq.flatMap { case (k, prop) =>
          st.fields.find(_.name == k) match {
            // bind-time schema enforcement (same philosophy as type
            // mismatches): a field the struct can never carry would
            // violate on every row — surface it at compile time
            case None if prop.required =>
              fail(s"column ${ok.name}: required property $k missing from struct ${st.simpleString}")
            case None => None // optional + physically absent: nothing to check
            case Some(f) =>
              val reqPred = if (prop.required) c.getField(k).isNotNull else lit(true)
              Some(ok(s"properties/$k", reqPred && predicateFor(prop.schema, f.dataType, c.getField(k))))
          }
        }
        // one check per pattern (not per field), mirroring the map form's
        // one-violation-per-constraint emission
        val patternChecks = oc.patternProperties.flatMap { case (pat, sub) =>
          fieldsCheck("patternProperties", sub, st.fields.filter(f => keyMatches(pat, f.name)).toSeq)
        }
        val additionalChecks = oc.additionalProperties match {
          case Some(sub) if !isPermissive(sub) =>
            val declared = oc.properties.keySet
            fieldsCheck("additionalProperties", sub, st.fields.filterNot(f =>
              declared(f.name) ||
                oc.patternProperties.exists { case (pat, _) => keyMatches(pat, f.name) }).toSeq)
          case _ => None // absent, false (quirk), or permissive true
        }
        sizeChecks ++ propChecks ++ patternChecks ++ additionalChecks

      case _ => Nil
    }
  }

  /** Declared `type` vs the physical Spark type. Most mismatches are
    * compile errors (schema enforcement at bind time); the one runtime
    * check is `integer` over a floating/decimal physical column.
    */
  private[exprs] def typesCompatible(doc: SchemaDoc, dt: DataType): Boolean =
    doc.types.isEmpty || doc.types.exists {
      case SimpleType.string  => holdsStrings(doc, dt)
      case SimpleType.integer => isIntegral(dt) || isFractional(dt)
      case SimpleType.number  => dt.isInstanceOf[NumericType]
      case SimpleType.boolean => dt == BooleanType
      case SimpleType.array   => dt.isInstanceOf[ArrayType]
      case SimpleType.jsonObject => dt.isInstanceOf[StructType] || dt.isInstanceOf[MapType]
      case SimpleType.jsonNull => true
    }

  private def typeCheck(ok: Checker, doc: SchemaDoc, dt: DataType): Seq[Check] =
    if (doc.types.isEmpty) Nil
    else if (!typesCompatible(doc, dt))
      fail(s"column ${ok.name}: declared types ${doc.types.mkString(",")} incompatible with physical type ${dt.simpleString}")
    else if (doc.types == Set(SimpleType.jsonNull))
      // draft-4 type:"null": the ONLY valid instance is null. Without
      // a runtime check this compiled to zero checks — a bare
      // {type:"null"} schema passed every value, and a oneOf branch
      // {type:"null"} evaluated true for every non-null value,
      // mis-counting the ubiquitous nullable idiom oneOf:[T, "null"]
      Seq(Check(ok.name, "type:null", ok.c.isNull, ok.actual))
    else if (doc.types.contains(SimpleType.integer) && !doc.types.contains(SimpleType.number) &&
             !isIntegral(dt) && dt.isInstanceOf[NumericType])
      // integer (not number) declared over a fractional physical column -> runtime integrality check
      Seq(ok("type:integer", ok.c === floor(ok.c)))
    else Nil

  private def enumCheck(ok: Checker, doc: SchemaDoc, dt: DataType): Seq[Check] =
    if (doc.enums.isEmpty) Nil
    else {
      val vals = enumLiterals(ok.name, doc.enums, dt)
      // isin -> Catalyst In/InSet (hash set at runtime for large
      // enums). An empty set (every literal dropped as unrepresentable
      // in this column) means no non-null value can ever match.
      Seq(ok("enum", if (vals.isEmpty) lit(false) else ok.c.isin(vals: _*)))
    }

  /** Heterogeneous `enums: Set[JValue]` restricted to the column's
    * physical type (SURVEY §7 hard parts): a literal of a DIFFERENT
    * json kind is a compile error; a literal of the right kind that the
    * column's type cannot REPRESENT (1.5 or 2^63 against an integral
    * column) simply matches nothing and is dropped — truncating it (the
    * old bd.toLong) made enum:[1.5] accept the value 1. A null literal
    * is dropped too: null values already pass every value check.
    */
  private def enumLiterals(name: String, enums: Set[JValue], dt: DataType): Seq[Any] =
    enums.toSeq.flatMap { j =>
      (j, dt) match {
        case (org.json4s.JNull, _)    => None
        case (JString(s), StringType) => Some(s)
        case (JBool(b), BooleanType)  => Some(b)
        case (jn, _: NumericType) =>
          val bd = graft.compile.Js.asNumber(jn).getOrElse(fail(
            s"column $name: enum value ${graft.compile.Js.compact(jn)} is not numeric (column type ${dt.simpleString})"))
          dt match {
            case t if isIntegral(t) =>
              if (bd.isWhole && bd.isValidLong) Some(bd.toLong) else None
            case FloatType       => Some(bd.toFloat)
            case DoubleType      => Some(bd.toDouble)
            case _: DecimalType  => Some(bd)
            case _               => Some(bd.toDouble)
          }
        case (jv, _) =>
          fail(s"column $name: enum value ${graft.compile.Js.compact(jv)} incompatible with column type ${dt.simpleString}")
      }
    }

  /** Per-format predicate library (reference stores format as a free
    * string, `JsonSchemaDecoder.scala:136`; enum of known formats
    * `model.scala:19-23`). Unknown formats, and any format on a column
    * that does not hold strings, are ignored per draft-4.
    */
  private def formatCheck(ok: Checker, doc: SchemaDoc, dt: DataType): Option[Check] = {
    val c = ok.c
    def fm(col: Column, f: String): Column = graft.functions.FormatMatch(col, f)
    doc.format.filter(_ => holdsStrings(doc, dt)).flatMap { f =>
      (f match {
        case "date-time" =>
          if (isDateTime(dt)) None // physically guaranteed
          // try_ variant: under ANSI mode (Spark 4 default) to_timestamp
          // THROWS on a malformed string — a validator must classify bad
          // values, not crash on them
          else Some(try_to_timestamp(c).isNotNull)
        // the string formats ride codegen byte loops PROVEN equivalent
        // to the java-regex forms they replaced (each documented on
        // its FormatMatchers method; FormatMatchersSpec property-
        // fuzzes matcher == Pattern.find on adversarial inputs, and
        // the DuckDB gate replays the regexes) — regex evaluation was
        // the dominant per-row cost of the format family
        case "email"    => Some(fm(c, "email"))       // ^[^@\s]+@[^@\s]+\.[^@\s]+$
        case "hostname" => Some(fm(c, "hostname"))    // ^(?=.{1,253}$)[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?(\.[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?)*$
        case "ipv4"     => Some(fm(c, "ipv4"))        // ^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$
        case "ipv6"     => Some(fm(c, "ipv6charset") && c.contains(":")) // ^[0-9A-Fa-f:.]+$
        case "uri"      => Some(fm(c, "uri"))         // ^[A-Za-z][A-Za-z0-9+.-]*:  (absolute URI: scheme)
        case "regex"    =>
          // per-value try-compile through a codegen expression with a
          // bounded per-thread pattern cache (graft.functions.RegexCompiles)
          Some(org.apache.spark.sql.GraftSqlBridge.column(
            graft.functions.RegexCompiles(
              org.apache.spark.sql.GraftSqlBridge.expression(c.cast("string")))))
        case _          => None // unknown formats ignored (draft-4 semantics)
      }).map(ok(s"format:$f", _))
    }
  }

  /** allOf / anyOf / oneOf / not over a column: sub-schema predicates
    * combined per SURVEY §2b (conjunction, disjunction, exactly-one,
    * negation). Sub-schemas contribute their value checks as a single
    * conjunction each.
    */
  private def combinatorChecks(ok: Checker, doc: SchemaDoc, dt: DataType): Seq[Check] = {
    // a branch whose declared type can't hold this physical column is
    // simply a non-matching branch (common draft-4 idiom: oneOf over
    // heterogeneous types) — evaluate it as false, not a compile error
    def subPred(sub: SchemaDoc): Column =
      if (!typesCompatible(sub, dt)) lit(false)
      else conjunction(valueChecks(ok.name, ok.c, sub, dt).map(_.ok))
    val allOf = doc.allOf.map(subPred).reduceOption(_ && _).map(ok("allOf", _))
    val anyOf = doc.anyOf.map(subPred).reduceOption(_ || _).map(ok("anyOf", _))
    val oneOf = doc.oneOf.map(p => when(subPred(p), 1).otherwise(0)).reduceOption(_ + _)
      .map(count => ok("oneOf", count === 1))
    val not = doc.not.map(sub => ok("not", !subPred(sub)))
    Seq(allOf, anyOf, oneOf, not).flatten
  }

  /** Table-level dependency checks (reference `model.scala:87-88`):
    * property-form: colA non-null => each listed column non-null;
    * schema-form: colA non-null => that schema's required/properties
    * hold for the row.
    */
  private def dependencyChecks(schema: TableSchema, dfSchema: StructType): Seq[Check] =
    schema.root.dependencies.toSeq.sortBy(_._1).flatMap { case (colA, dep) =>
      // the trigger column missing from the TABLE: the dependency can
      // never fire (same rule as "optional column absent"); a missing
      // dependency TARGET is a compile error (a bare col() on it would
      // otherwise surface as a raw AnalysisException at action time)
      if (!dfSchema.fieldNames.contains(colA)) None
      else {
        val pred = dep match {
          case Right(required) =>
            val missing = required.toSeq.sorted.filterNot(dfSchema.fieldNames.contains)
            if (missing.nonEmpty)
              fail(s"dependencies of $colA references columns absent from the table: ${missing.mkString(", ")}")
            conjunction(required.toSeq.sorted.map(tableColumn(_).isNotNull))
          case Left(depSchema) => rowPredicate(depSchema, dfSchema)
        }
        Some(Check(colA, "dependencies", when(tableColumn(colA).isNotNull, pred).otherwise(lit(true)),
          coalesce(tableColumn(colA).cast("string"), lit("null"))))
      }
    }

  /** Whole-row predicate of an object schema (required + per-property
    * value checks), used by schema-form dependencies.
    */
  private def rowPredicate(doc: SchemaDoc, dfSchema: StructType): Column =
    doc.obj.fold(lit(true)) { o =>
      conjunction(o.properties.toSeq.map { case (n, p) =>
        val f = dfSchema.fields.find(_.name == n)
          .getOrElse(fail(s"dependency schema references unknown column $n"))
        conjunction(columnChecks(n, p, f.dataType).map(_.ok))
      })
    }

  /** One row per schema column AND per physical-only column: bind status
    * of the declared schema against the table's physical schema —
    * `ok` / `missing_required` / `missing_optional` / `uncompilable`
    * (declared constraints can't bind to the physical type) /
    * `undeclared` (physical column the schema says nothing about).
    * [[compile]] fails loud at the first problem (the right behavior
    * for a validation RUN); this is the DIAGNOSTIC view operators and
    * CI checks use to see every mismatch at once, e.g. after a
    * producer-side schema evolution. Pure driver-side metadata — no
    * job, no scan.
    */
  final case class ColumnBind(column: String, status: String, detail: String)

  /** The one bind walk behind [[compile]] and [[bindReport]]: each
    * declared column in declaration order, then `<dependencies>` when
    * the schema has any, with its bind row and its checks (none unless
    * the row is `ok`; an `uncompilable` row's detail is the error).
    */
  private def bindWalk(schema: TableSchema, dfSchema: StructType): Seq[(ColumnBind, Seq[Check])] = {
    def bound(name: String, detail: String)(checks: => Seq[Check]) =
      try {
        val cs = checks
        (ColumnBind(name, "ok", s"$detail${cs.length} checks"), cs)
      } catch { case e: CompileError => (ColumnBind(name, "uncompilable", e.getMessage), Nil) }
    val columns = schema.columns.toSeq.map { case (name, prop) =>
      dfSchema.fields.find(_.name == name) match {
        case None if prop.required => (ColumnBind(name, "missing_required", "declared required; absent from table"), Nil)
        case None => (ColumnBind(name, "missing_optional", "declared optional; absent from table"), Nil)
        case Some(f) => bound(name, s"${f.dataType.simpleString}; ")(columnChecks(name, prop, f.dataType))
      }
    }
    if (schema.root.dependencies.isEmpty) columns
    else columns :+ bound("<dependencies>", "")(dependencyChecks(schema, dfSchema))
  }

  def bindReport(schema: TableSchema, dfSchema: StructType): Seq[ColumnBind] = {
    val (declared, deps) = bindWalk(schema, dfSchema).map(_._1).splitAt(schema.columns.size)
    val extra = dfSchema.fields.toSeq.filterNot(f => schema.columns.contains(f.name)).map(f =>
      ColumnBind(f.name, "undeclared", s"physical ${f.dataType.simpleString}; no constraints"))
    declared ++ extra ++ deps
  }

  /** All compiled checks for a table, or the first bind error in
    * declaration order (an optional column absent from the table has
    * nothing to check).
    */
  def compile(schema: TableSchema, dfSchema: StructType): Either[String, Seq[Check]] = {
    val walked = bindWalk(schema, dfSchema)
    walked.map(_._1).collectFirst {
      case ColumnBind(name, "missing_required", _) =>
        s"required column $name missing from table schema ${dfSchema.simpleString}"
      case ColumnBind(_, "uncompilable", error) => error
    }.toLeft(walked.flatMap(_._2))
  }
}

/** The fused single-scan validator (SURVEY.md §4: "all per-row
  * constraints in ONE scan").
  */
object Validator {

  import ConstraintCompiler._

  /** Violation rows for any keyed table: one `select` building
    * `array<struct>` of per-constraint violations, lambda-`filter`ed and
    * `explode`d in the same whole-stage-codegen pass. Rows with no
    * violations never leave the scan (explode drops empty arrays).
    */
  def violations(df: DataFrame, schema: TableSchema, keyCols: Seq[String]): DataFrame =
    violationsForChecks(df, checksOf(df, schema), keyCols)

  /** The compiled checks of `schema` over `df`, or its first bind error thrown. */
  private[graft] def checksOf(df: DataFrame, schema: TableSchema): Seq[Check] =
    ConstraintCompiler.compile(schema, df.schema).fold(e => throw new IllegalArgumentException(e), identity)

  /** `carryCols` are passed through to the output unchanged (e.g. a
    * lineage/partition column) without participating in the pointer.
    */
  def violationsForChecks(df: DataFrame, checks: Seq[Check], keyCols: Seq[String],
                          carryCols: Seq[String] = Nil): DataFrame = {
    val passthrough0 = keyCols ++ carryCols
    if (checks.isEmpty)
      // an all-permissive schema compiles to zero checks: nothing can
      // violate — emit the empty violations relation (same schema), not
      // an exception before any row is scanned
      return df.filter(lit(false)).select(passthrough0.map(tableColumn) :+
        lit("").as("pointer") :+ lit("").as("constraint") :+ lit("").as("actual"): _*)
    // The pointer's escaped key prefix ("/k1/k2/") is IDENTICAL across
    // every check of a row — computed once as a projected column, each
    // struct only appends its static column name. Inlined per struct it
    // ran keyCols * 2 regexp_replace per check per violating row and
    // was 63% of v_maps' emission cost (round-4 probe); CollapseProject
    // keeps the hoist because the alias is referenced by every struct.
    val prefixParts = ConstraintCompiler.pointerPrefixParts(keyCols)
    val vioStructs = checks.map { ch =>
      when(!ch.ok, struct(
        concat(col("__ptr_prefix"), lit(ch.column)).as("pointer"),
        lit(ch.constraint).as("constraint"),
        ch.actual.as("actual")))
    }
    // Stay on the codegen path end to end (measured 13x faster than the
    // lambda-filter form, whose ArrayFilter is CodegenFallback):
    //  1. cheap compiled predicate keeps only rows with >= 1 violation
    //     (the overwhelmingly common all-valid row never builds structs);
    //  2. explode (codegen Generate) fans out the per-check structs;
    //  3. compiled null filter drops the passing checks.
    // A BARRIER PROJECTION (one field wrapped in PushdownFence, guide
    // §4.4's non-determinism trick) sits between the input and the
    // validator: `PushPredicateThroughNonJoin` pushes a filter below a
    // Project — substituting each attribute reference with its
    // producing expression, once per referencing check, with no
    // subexpression reuse — whenever ALL project fields are
    // deterministic. When the input is itself a derivation (the
    // lineitem-derived fixtures, a JSON-parse projection, any ETL
    // select), that substitution re-derives every input column
    // ~|referencing checks| times per row: measured 4.1-5.2 s vs ~0.5 s
    // on the flagship validator at sf0.1. The barrier pins every check,
    // the pre-filter and the emission structs to ATTRIBUTE reads; the
    // input projection evaluates once per row below it.
    // The fence rides the FIRST KEY column (always referenced by the
    // output, so column pruning can never drop it); every other barrier
    // field is a plain attribute, so pruning still narrows the project
    // and the scan to the columns the checks actually read.
    val anyViolation = !checks.map(_.ok).reduce(_ && _)
    val passthrough = keyCols ++ carryCols
    val fenced = keyCols.head
    val barrier = df.select(df.columns.toSeq.map { c =>
      if (c == fenced) graft.functions.PushdownFence.fence(tableColumn(c)).as(c) else tableColumn(c)
    }: _*)
    barrier.filter(anyViolation)
      .withColumn("__ptr_prefix", concat(prefixParts: _*))
      .select(passthrough.map(tableColumn) :+ explode(array(vioStructs: _*)).as("__v"): _*)
      .filter(col("__v").isNotNull)
      .select(passthrough.map(tableColumn) :+ col("__v.pointer") :+ col("__v.constraint") :+ col("__v.actual"): _*)
  }

  /** Violation COUNTS by (constraint, column) without emitting a single
    * violation row: one conditional sum per compiled check in ONE
    * whole-table aggregation (map-side partial combine; zero Generate,
    * zero pointer/actual string building — counting needs none of it).
    * The operational-rollup shape for 10^12 rows: the scan is the only
    * data-sized stage, the aggregate output is |checks| rows. Zero-count
    * checks are dropped to match what a rollup over emitted rows shows.
    */
  def violationCounts(df: DataFrame, schema: TableSchema): DataFrame = {
    val checks = checksOf(df, schema)
    if (checks.isEmpty)
      return df.sparkSession.emptyDataFrame
        .select(lit("").as("constraint"), lit("").as("column"), lit(0L).as("n"))
    val aggs = checks.zipWithIndex.map { case (ch, i) =>
      sum((!ch.ok).cast("long")).as(s"__v_$i")
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val structs = checks.zipWithIndex.map { case (ch, i) =>
      struct(lit(ch.constraint).as("constraint"), lit(ch.column).as("column"),
        col(s"__v_$i").as("n"))
    }
    wide.select(explode(array(structs: _*)).as("s")).select(col("s.*"))
      // distinct checks can share (constraint, column) — e.g. tuple
      // positions — and a rollup over emitted rows would merge them
      .groupBy("constraint", "column").agg(sum(col("n")).as("n"))
      .filter(col("n") > 0)
  }

  /** Grand-total violation count in ONE conditional-sum scan — zero
    * Generate, zero per-check reshape (even [[violationCounts]]' one-row
    * explode is unnecessary when only the total is wanted, as in the
    * validation_report capstone). Equals `count(*)` over the emission
    * path's rows: each emitted row is exactly one failing check, and a
    * null check result counts as a pass here exactly as the emission
    * path's `when` and violationCounts' null-skipping `sum` treat it.
    */
  def violationTotal(df: DataFrame, schema: TableSchema): DataFrame = {
    val checks = checksOf(df, schema)
    val perRow = checks.map(ch => coalesce((!ch.ok).cast("long"), lit(0L)))
      .reduceOption(_ + _).getOrElse(lit(0L))
    df.select(perRow.as("__nv"))
      .agg(coalesce(sum(col("__nv")), lit(0L)).as("n_violations"))
  }
}
