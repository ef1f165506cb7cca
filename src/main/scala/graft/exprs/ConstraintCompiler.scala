package graft.exprs

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
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
      Seq(lit("/"), coalesce(pointerEscape(col(k).cast("string")), lit("null")))
    } :+ lit("/")

  def pointerCol(keyCols: Seq[String], column: String): Column =
    concat(pointerPrefixParts(keyCols) :+ lit(column): _*)

  /** All checks for one column under its Property. */
  def columnChecks(name: String, prop: Property, dt: DataType): Either[String, Seq[Check]] = {
    val c = col(name)
    val base: Seq[Check] =
      if (prop.required) Seq(Check(name, "required", c.isNotNull, lit("null"))) else Nil
    valueChecks(name, c, prop.schema, dt).map(base ++ _)
  }

  /** Conjunction of all value checks of `doc` applied to an arbitrary
    * expression (array elements, map values, ...). Null values pass.
    */
  private def predicateFor(doc: SchemaDoc, dt: DataType, x: Column): Either[String, Column] =
    valueChecks("_element", x, doc, dt)
      .map(cs => cs.map(_.ok).reduceOption(_ && _).getOrElse(lit(true)))

  /** Value-level checks of one schema doc applied to expression `c`
    * (labelled `name` in emitted violations).
    */
  private def valueChecks(name: String, c: Column, doc: SchemaDoc, dt: DataType): Either[String, Seq[Check]] = {
    if (dt == NullType) return Right(Nil) // all-null column: every value check passes
    def ok(pred: Column): Column = c.isNull || pred
    val actualStr = coalesce(c.cast("string"), lit("null"))

    for {
      typeCheck <- typeCheck(name, c, doc, dt)
      enumCheck <- enumCheck(name, c, doc, dt)
      numeric <- Right(doc.number.toSeq.flatMap { nc =>
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
        val boundChecks = Seq(
          nc.range.min.map { b =>
            val pred = if (b.exclusive) c > boundLit(b.value) else c >= boundLit(b.value)
            Check(name, if (b.exclusive) "exclusiveMinimum" else "minimum", ok(pred), actualStr)
          },
          nc.range.max.map { b =>
            val pred = if (b.exclusive) c < boundLit(b.value) else c <= boundLit(b.value)
            Check(name, if (b.exclusive) "exclusiveMaximum" else "maximum", ok(pred), actualStr)
          },
          nc.multipleOf.map { k =>
            // exactness via decimal remainder (SURVEY §7 hard parts):
            // integral columns stay in integer arithmetic, fractional
            // columns go through DecimalType to avoid float remainder
            val pred = dt match {
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
            }
            Check(name, "multipleOf", ok(pred), actualStr)
          }
        ).flatten
        boundChecks
      })
      strings <- Right(doc.string.toSeq.flatMap { sc =>
        val lenChecks = Seq(
          if (sc.minLength > 0)
            Some(Check(name, "minLength", ok(length(c) >= lit(sc.minLength)), actualStr))
          else None,
          sc.maxLength.map(m => Check(name, "maxLength", ok(length(c) <= lit(m)), actualStr)),
          sc.pattern.map { p =>
            // anchored literal/char-class patterns take the codegen'd
            // byte-loop fast path (~45% of full-pass cost was
            // java.util.regex); anything else falls back to rlike
            val pred = graft.functions.SimplePatternMatch.tryColumn(c, p).getOrElse(c.rlike(p))
            Check(name, "pattern", ok(pred), actualStr)
          }
        ).flatten
        lenChecks
      })
      format <- formatCheck(name, c, doc, dt)
      arrays <- arrayChecks(name, c, doc, dt)
      maps <- mapChecks(name, c, doc, dt)
      combinators <- combinatorChecks(name, c, doc, dt)
    } yield typeCheck ++ enumCheck ++ numeric ++ strings ++ format ++ arrays ++ maps ++ combinators
  }

  // element-level forall on the whole-stage-codegen path: Spark's HOF
  // `forall` is CodegenFallback (interpreted lambda dispatch per element),
  // which at wide-array scale becomes the scan bottleneck; ForAllExpr
  // splices the compiled element predicate into a generated loop
  // (equivalence pinned by ForAllSpec against the HOF form)
  private def forallCg(arr: Column, elemType: DataType)(f: Column => Column): Column =
    graft.functions.ForAllFunctions.forallCodegen(arr, elemType, f)

  /** Array-column constraints (SURVEY §2b items/additionalItems/
    * uniqueItems/size rows): size bounds, element-level `items` schema
    * via the codegen'd forall, tuple-form positional items,
    * additionalItems over the tail slice, uniqueItems via array_distinct.
    */
  private def arrayChecks(name: String, c: Column, doc: SchemaDoc, dt: DataType): Either[String, Seq[Check]] =
    (doc.array, dt) match {
      case (Some(ac), at: ArrayType) =>
        def ok(pred: Column): Column = c.isNull || pred
        val actualStr = jsonActual(c, at)
        val sizeChecks = Seq(
          if (ac.minItems > 0) Some(Check(name, "minItems", ok(size(c) >= lit(ac.minItems)), actualStr)) else None,
          ac.maxItems.map(m => Check(name, "maxItems", ok(size(c) <= lit(m)), actualStr)),
          if (ac.uniqueItems)
            Some(Check(name, "uniqueItems", ok(size(array_distinct(c)) === size(c)), actualStr))
          else None).flatten
        val itemChecks: Either[String, Seq[Check]] = ac.items match {
          case Nil => Right(Nil)
          case single :: Nil if !ac.tupleItems =>
            // schema-form items: EVERY element must match. (A one-entry
            // TUPLE form falls through to the positional branch below.)
            // compile the element predicate once (surfacing errors), then
            // instantiate it inside the forall lambda
            predicateFor(single, at.elementType, lit(null).cast(at.elementType)).map { _ =>
              Seq(Check(name, "items",
                ok(forallCg(c, at.elementType)(x => predicateFor(single, at.elementType, x)
                  .fold(e => throw new IllegalArgumentException(e), identity))),
                actualStr))
            }
          case tuple =>
            val positional = tuple.zipWithIndex.map { case (sub, i) =>
              predicateFor(sub, at.elementType, element_at(c, i + 1)).map { p =>
                Check(name, s"items[$i]", ok(size(c) <= i || p), actualStr)
              }
            }
            val additional: Seq[Either[String, Check]] = ac.additionalItems match {
              case Some(Left(false)) =>
                Seq(Right(Check(name, "additionalItems", ok(size(c) <= tuple.size), actualStr)))
              case Some(Right(sub)) =>
                Seq(predicateFor(sub, at.elementType, lit(null)).flatMap { _ =>
                  Right(Check(name, "additionalItems",
                    ok(forallCg(slice(c, lit(tuple.size + 1), greatest(size(c) - tuple.size, lit(0))),
                        at.elementType)(
                      x => predicateFor(sub, at.elementType, x)
                        .fold(e => throw new IllegalArgumentException(e), identity))),
                    actualStr))
                })
              case _ => Nil
            }
            val all = positional ++ additional
            all.collectFirst { case Left(e) => Left(e) }
              .getOrElse(Right(all.collect { case Right(v) => v }))
        }
        itemChecks.map(sizeChecks ++ _)
      case _ => Right(Nil)
    }

  /** Map-column constraints (SURVEY §2b properties/patternProperties/
    * additionalProperties/size rows): key-count bounds, per-declared-key
    * requiredness + value checks, pattern-keyed value checks, and
    * additionalProperties over undeclared keys (the reference's
    * false≡absent quirk applies: only the schema form checks anything).
    */
  private def mapChecks(name: String, c: Column, doc: SchemaDoc, dt: DataType): Either[String, Seq[Check]] =
    (doc.obj, dt) match {
      case (Some(oc), mt: MapType) =>
        def ok(pred: Column): Column = c.isNull || pred
        val actualStr = jsonActual(c, mt)
        val sizeChecks = Seq(
          if (oc.minProperties > 0)
            Some(Check(name, "minProperties", ok(size(map_keys(c)) >= lit(oc.minProperties)), actualStr))
          else None,
          oc.maxProperties.map(m => Check(name, "maxProperties", ok(size(map_keys(c)) <= lit(m)), actualStr))
        ).flatten
        val propChecks = oc.properties.toSeq.map { case (k, prop) =>
          predicateFor(prop.schema, mt.valueType, try_element_at(c, lit(k))).map { p =>
            val reqPred = if (prop.required) map_contains_key(c, lit(k)) else lit(true)
            Check(name, s"properties/$k", ok(reqPred && p), actualStr)
          }
        }
        val patternChecks = oc.patternProperties.map { case (pat, sub) =>
          predicateFor(sub, mt.valueType, lit(null)).flatMap { _ =>
            Right(Check(name, "patternProperties",
              ok(forallCg(map_keys(c), mt.keyType)(k =>
                !k.cast("string").rlike(pat) ||
                  predicateFor(sub, mt.valueType, try_element_at(c, k))
                    .fold(e => throw new IllegalArgumentException(e), identity))),
              actualStr))
          }
        }
        val additionalChecks: Seq[Either[String, Check]] = oc.additionalProperties match {
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
            Seq(predicateFor(sub, mt.valueType, lit(null)).flatMap { _ =>
              Right(Check(name, "additionalProperties",
                ok(forallCg(map_keys(c), mt.keyType)(k =>
                  exempt(k) ||
                    predicateFor(sub, mt.valueType, try_element_at(c, k))
                      .fold(e => throw new IllegalArgumentException(e), identity))),
                actualStr))
            })
          case _ => Nil // absent, false (quirk), or permissive true
        }
        val all = propChecks ++ patternChecks ++ additionalChecks
        all.collectFirst { case Left(e) => Left(e) }
          .getOrElse(Right(sizeChecks ++ all.collect { case Right(v) => v }))

      // Struct-typed columns: same draft-4 object vocabulary, but the key
      // set is STATIC (the struct's fields), so everything compiles to
      // per-field `getField` checks — pure codegen, no per-key lambdas.
      // A property is "present" when its field is non-null (a struct
      // physically carries every field; null == absent), which pins
      // `required` and the min/maxProperties counts. Without this branch
      // an object schema on a struct column would compile to ZERO checks
      // and fail open (silently passing violations).
      case (Some(oc), st: StructType) =>
        def ok(pred: Column): Column = c.isNull || pred
        val actualStr = jsonActual(c, st)
        def present(f: String): Column = c.getField(f).isNotNull
        // rlike is a regex *find* (unanchored); match that semantics when
        // deciding key-pattern membership at compile time
        def keyMatches(pat: String, field: String): Boolean =
          pat.r.findFirstIn(field).isDefined
        val presentCount = structPresentCount(c, st)
        val sizeChecks = Seq(
          if (oc.minProperties > 0)
            Some(Check(name, "minProperties", ok(presentCount >= lit(oc.minProperties)), actualStr))
          else None,
          oc.maxProperties.map(m =>
            Check(name, "maxProperties", ok(presentCount <= lit(m)), actualStr))
        ).flatten
        val propChecks: Seq[Either[String, Seq[Check]]] = oc.properties.toSeq.map { case (k, prop) =>
          st.fields.find(_.name == k) match {
            case None if prop.required =>
              // bind-time schema enforcement (same philosophy as type
              // mismatches): a field the struct can never carry would
              // violate on every row — surface it at compile time
              Left(s"column $name: required property $k missing from struct ${st.simpleString}")
            case None => Right(Nil) // optional + physically absent: nothing to check
            case Some(f) =>
              predicateFor(prop.schema, f.dataType, c.getField(k)).map { p =>
                val reqPred = if (prop.required) present(k) else lit(true)
                Seq(Check(name, s"properties/$k", ok(reqPred && p), actualStr))
              }
          }
        }
        // one check per pattern (not per field), mirroring the map form's
        // one-violation-per-constraint emission
        val patternChecks: Seq[Either[String, Seq[Check]]] = oc.patternProperties.map { case (pat, sub) =>
          val matching = st.fields.filter(f => keyMatches(pat, f.name)).toSeq
          val preds = matching.map(f => predicateFor(sub, f.dataType, c.getField(f.name)))
          preds.collectFirst { case Left(e) => Left(e) }.getOrElse {
            val conj = preds.collect { case Right(p) => p }.reduceOption(_ && _)
            Right(conj.map(p => Check(name, "patternProperties", ok(p), actualStr)).toSeq)
          }
        }
        val additionalChecks: Seq[Either[String, Seq[Check]]] = oc.additionalProperties match {
          case Some(sub) if !isPermissive(sub) =>
            val declared = oc.properties.keySet
            val extra = st.fields.filterNot(f =>
              declared(f.name) ||
                oc.patternProperties.exists { case (pat, _) => keyMatches(pat, f.name) }).toSeq
            val preds = extra.map(f => predicateFor(sub, f.dataType, c.getField(f.name)))
            Seq(preds.collectFirst { case Left(e) => Left(e) }.getOrElse {
              val conj = preds.collect { case Right(p) => p }.reduceOption(_ && _)
              Right(conj.map(p => Check(name, "additionalProperties", ok(p), actualStr)).toSeq)
            })
          case _ => Nil // absent, false (quirk), or permissive true
        }
        val all = propChecks ++ patternChecks ++ additionalChecks
        all.collectFirst { case Left(e) => Left(e) }
          .getOrElse(Right(sizeChecks ++ all.collect { case Right(v) => v }.flatten))

      case _ => Right(Nil)
    }

  /** Declared `type` vs the physical Spark type. Most mismatches are
    * compile errors (schema enforcement at bind time); the one runtime
    * check is `integer` over a floating/decimal physical column.
    */
  private[exprs] def typesCompatible(doc: SchemaDoc, dt: DataType): Boolean =
    doc.types.isEmpty || doc.types.exists {
      case SimpleType.string =>
        dt == StringType ||
          ((dt == TimestampType || dt == TimestampNTZType || dt == DateType) &&
            doc.format.contains("date-time")) // ts / date column
      case SimpleType.integer => isIntegral(dt) || isFractional(dt)
      case SimpleType.number  => dt.isInstanceOf[NumericType]
      case SimpleType.boolean => dt == BooleanType
      case SimpleType.array   => dt.isInstanceOf[ArrayType]
      case SimpleType.jsonObject => dt.isInstanceOf[StructType] || dt.isInstanceOf[MapType]
      case SimpleType.jsonNull => true
    }

  private def typeCheck(name: String, c: Column, doc: SchemaDoc, dt: DataType): Either[String, Seq[Check]] = {
    if (doc.types.isEmpty) Right(Nil)
    else {
      if (!typesCompatible(doc, dt))
        Left(s"column $name: declared types ${doc.types.mkString(",")} incompatible with physical type ${dt.simpleString}")
      else if (doc.types == Set(SimpleType.jsonNull))
        // draft-4 type:"null": the ONLY valid instance is null. Without
        // a runtime check this compiled to zero checks — a bare
        // {type:"null"} schema passed every value, and a oneOf branch
        // {type:"null"} evaluated true for every non-null value,
        // mis-counting the ubiquitous nullable idiom oneOf:[T, "null"]
        Right(Seq(Check(name, "type:null", c.isNull,
          coalesce(c.cast("string"), lit("null")))))
      else if (doc.types.contains(SimpleType.integer) && !isIntegral(dt) &&
               dt.isInstanceOf[NumericType])
        // integer declared over a fractional physical column -> runtime integrality check
        Right(Seq(Check(name, "type:integer", c.isNull || c === floor(c),
          coalesce(c.cast("string"), lit("null")))))
      else Right(Nil)
    }
  }

  private def enumCheck(name: String, c: Column, doc: SchemaDoc, dt: DataType): Either[String, Seq[Check]] = {
    if (doc.enums.isEmpty) Right(Nil)
    else
      enumLiterals(doc.enums, dt).map { vals =>
        // isin -> Catalyst In/InSet (hash set at runtime for large
        // enums). An empty set (every literal dropped as unrepresentable
        // in this column) means no non-null value can ever match.
        val pred = if (vals.isEmpty) lit(false) else c.isin(vals: _*)
        Seq(Check(name, "enum", c.isNull || pred,
          coalesce(c.cast("string"), lit("null"))))
      }.left.map(e => s"column $name: $e")
  }

  /** Heterogeneous `enums: Set[JValue]` restricted to the column's
    * physical type (SURVEY §7 hard parts): a literal of a DIFFERENT
    * json kind is a compile error; a literal of the right kind that the
    * column's type cannot REPRESENT (1.5 or 2^63 against an integral
    * column) simply matches nothing and is dropped — truncating it (the
    * old bd.toLong) made enum:[1.5] accept the value 1. A null literal
    * is dropped too: null values already pass every value check.
    */
  private def enumLiterals(enums: Set[JValue], dt: DataType): Either[String, Seq[Any]] = {
    val converted: Seq[Either[String, Option[Any]]] = enums.toSeq.map { j =>
      (j, dt) match {
        case (org.json4s.JNull, _)    => Right(None)
        case (JString(s), StringType) => Right(Some(s))
        case (JBool(b), BooleanType)  => Right(Some(b))
        case (jn, _: NumericType) =>
          graft.compile.Js.asNumber(jn).map { bd =>
            dt match {
              case t if isIntegral(t) =>
                if (bd.isWhole && bd.isValidLong) Some(bd.toLong) else None
              case FloatType       => Some(bd.toFloat)
              case DoubleType      => Some(bd.toDouble)
              case _: DecimalType  => Some(bd)
              case _               => Some(bd.toDouble)
            }
          }.toRight(s"enum value ${graft.compile.Js.compact(jn)} is not numeric (column type ${dt.simpleString})")
        case (jv, _) =>
          Left(s"enum value ${graft.compile.Js.compact(jv)} incompatible with column type ${dt.simpleString}")
      }
    }
    converted.collectFirst { case Left(e) => e }
      .toLeft(converted.collect { case Right(Some(v)) => v })
  }

  /** Per-format predicate library (reference stores format as a free
    * string, `JsonSchemaDecoder.scala:136`; enum of known formats
    * `model.scala:19-23`). Unknown formats are ignored per draft-4.
    */
  private def formatCheck(name: String, c: Column, doc: SchemaDoc, dt: DataType): Either[String, Seq[Check]] = {
    def ok(pred: Column): Column = c.isNull || pred
    def fm(col: Column, f: String): Column = graft.functions.FormatMatch(col, f)
    val actualStr = coalesce(c.cast("string"), lit("null"))
    doc.format match {
      case None => Right(Nil)
      case Some(f) =>
        val pred: Option[Column] = f match {
          case "date-time" =>
            if (dt == TimestampType || dt == TimestampNTZType || dt == DateType)
              None // physically guaranteed
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
        }
        Right(pred.map(p => Check(name, s"format:$f", ok(p), actualStr)).toSeq)
    }
  }

  /** allOf / anyOf / oneOf / not over a column: sub-schema predicates
    * combined per SURVEY §2b (conjunction, disjunction, exactly-one,
    * negation). Sub-schemas contribute their value checks as a single
    * conjunction each.
    */
  private def combinatorChecks(name: String, c: Column, doc: SchemaDoc, dt: DataType): Either[String, Seq[Check]] = {
    val actualStr = coalesce(c.cast("string"), lit("null"))

    def subPred(sub: SchemaDoc): Either[String, Column] =
      // a branch whose declared type can't hold this physical column is
      // simply a non-matching branch (common draft-4 idiom: oneOf over
      // heterogeneous types) — evaluate it as false, not a compile error
      if (!typesCompatible(sub, dt)) Right(lit(false))
      else valueChecks(name, c, sub, dt).map { checks =>
        if (checks.isEmpty) lit(true) else checks.map(_.ok).reduce(_ && _)
      }

    def seqPreds(subs: List[SchemaDoc]): Either[String, List[Column]] =
      subs.foldRight(Right(Nil): Either[String, List[Column]]) { (s, acc) =>
        for (t <- acc; p <- subPred(s)) yield p :: t
      }

    for {
      allOf <- seqPreds(doc.allOf).map(_.reduceOption(_ && _)
        .map(p => Check(name, "allOf", c.isNull || p, actualStr)).toSeq)
      anyOf <- seqPreds(doc.anyOf).map(_.reduceOption(_ || _)
        .map(p => Check(name, "anyOf", c.isNull || p, actualStr)).toSeq)
      oneOf <- seqPreds(doc.oneOf).map { ps =>
        if (ps.isEmpty) Nil
        else {
          val count = ps.map(p => when(p, 1).otherwise(0)).reduce(_ + _)
          Seq(Check(name, "oneOf", c.isNull || (count === 1), actualStr))
        }
      }
      not <- doc.not match {
        case Some(sub) => subPred(sub).map(p => Seq(Check(name, "not", c.isNull || !p, actualStr)))
        case None      => Right(Nil)
      }
    } yield allOf ++ anyOf ++ oneOf ++ not
  }

  /** Table-level dependency checks (reference `model.scala:87-88`):
    * property-form: colA non-null => each listed column non-null;
    * schema-form: colA non-null => that schema's required/properties
    * hold for the row.
    */
  def dependencyChecks(schema: TableSchema, dfSchema: StructType): Either[String, Seq[Check]] = {
    val deps = schema.root.dependencies.toSeq.sortBy(_._1)
    val results = deps.map {
      // the trigger column missing from the TABLE: the dependency can
      // never fire (same rule as "optional column absent"); a missing
      // dependency TARGET is a compile error (a bare col() on it would
      // otherwise surface as a raw AnalysisException at action time)
      case (colA, _) if !dfSchema.fieldNames.contains(colA) => Right(Nil)
      case (colA, Right(required)) =>
        val missing = required.toSeq.sorted.filterNot(dfSchema.fieldNames.contains)
        if (missing.nonEmpty)
          Left(s"dependencies of $colA references columns absent from the table: ${missing.mkString(", ")}")
        else {
          val pred = required.toSeq.sorted.map(col(_).isNotNull).reduceOption(_ && _).getOrElse(lit(true))
          Right(Seq(Check(colA, "dependencies",
            when(col(colA).isNotNull, pred).otherwise(lit(true)),
            coalesce(col(colA).cast("string"), lit("null")))))
        }
      case (colA, Left(depSchema)) =>
        rowPredicate(depSchema, dfSchema).map { pred =>
          Seq(Check(colA, "dependencies",
            when(col(colA).isNotNull, pred).otherwise(lit(true)),
            coalesce(col(colA).cast("string"), lit("null"))))
        }
    }
    results.collectFirst { case Left(e) => Left(e) }
      .getOrElse(Right(results.collect { case Right(v) => v }.flatten))
  }

  /** Whole-row predicate of an object schema (required + per-property
    * value checks), used by schema-form dependencies.
    */
  private def rowPredicate(doc: SchemaDoc, dfSchema: StructType): Either[String, Column] =
    doc.obj match {
      case None => Right(lit(true))
      case Some(o) =>
        val perCol = o.properties.toSeq.map { case (n, p) =>
          dfSchema.fields.find(_.name == n) match {
            case None => Left(s"dependency schema references unknown column $n")
            case Some(f) =>
              columnChecks(n, p, f.dataType).map { checks =>
                checks.map(_.ok).reduceOption(_ && _).getOrElse(lit(true))
              }
          }
        }
        perCol.collectFirst { case Left(e) => Left(e) }
          .getOrElse(Right(perCol.collect { case Right(c) => c }
            .reduceOption(_ && _).getOrElse(lit(true))))
    }

  /** All compiled checks for a table. */
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

  def bindReport(schema: TableSchema, dfSchema: StructType): Seq[ColumnBind] = {
    val declared = schema.columns.toSeq.map { case (name, prop) =>
      dfSchema.fields.find(_.name == name) match {
        case None if prop.required =>
          ColumnBind(name, "missing_required", "declared required; absent from table")
        case None =>
          ColumnBind(name, "missing_optional", "declared optional; absent from table")
        case Some(f) =>
          columnChecks(name, prop, f.dataType) match {
            case Left(err) => ColumnBind(name, "uncompilable", err)
            case Right(cs) => ColumnBind(name, "ok",
              s"${f.dataType.simpleString}; ${cs.length} checks")
          }
      }
    }
    val declaredNames = schema.columns.keySet
    val extra = dfSchema.fields.filterNot(f => declaredNames.contains(f.name)).map(f =>
      ColumnBind(f.name, "undeclared", s"physical ${f.dataType.simpleString}; no constraints"))
    // table-level dependency binds fail compile() too — surface them here
    val deps =
      if (schema.root.dependencies.isEmpty) Nil
      else dependencyChecks(schema, dfSchema) match {
        case Left(err) => Seq(ColumnBind("<dependencies>", "uncompilable", err))
        case Right(cs) => Seq(ColumnBind("<dependencies>", "ok", s"${cs.length} checks"))
      }
    declared ++ extra ++ deps
  }

  def compile(schema: TableSchema, dfSchema: StructType): Either[String, Seq[Check]] = {
    val perColumn = schema.columns.toSeq.map { case (name, prop) =>
      dfSchema.fields.find(_.name == name) match {
        case None =>
          if (prop.required) Left(s"required column $name missing from table schema ${dfSchema.simpleString}")
          else Right(Nil) // optional column absent: nothing to check
        case Some(f) => columnChecks(name, prop, f.dataType)
      }
    }
    val colChecks = perColumn.collectFirst { case Left(e) => Left(e) }
      .getOrElse(Right(perColumn.collect { case Right(cs) => cs }.flatten))
    for {
      cc <- colChecks
      deps <- dependencyChecks(schema, dfSchema)
    } yield cc ++ deps
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
  def violations(df: DataFrame, schema: TableSchema, keyCols: Seq[String]): DataFrame = {
    val checks = ConstraintCompiler.compile(schema, df.schema)
      .fold(e => throw new IllegalArgumentException(e), identity)
    violationsForChecks(df, checks, keyCols)
  }

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
      return df.filter(lit(false)).select(passthrough0.map(col) :+
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
      if (c == fenced) graft.functions.PushdownFence.fence(col(c)).as(c) else col(c)
    }: _*)
    barrier.filter(anyViolation)
      .withColumn("__ptr_prefix", concat(prefixParts: _*))
      .select(passthrough.map(col) :+ explode(array(vioStructs: _*)).as("__v"): _*)
      .filter(col("__v").isNotNull)
      .select(passthrough.map(col) :+ col("__v.pointer") :+ col("__v.constraint") :+ col("__v.actual"): _*)
  }

  /** Typed transcript validation (the flagship path). */
  def validateTranscripts(df: DataFrame, schema: TableSchema): Dataset[Violation] = {
    val spark = df.sparkSession
    import spark.implicits._
    violations(df, schema, Seq("conv_id", "turn_idx"))
      .select(col("conv_id"), col("turn_idx").cast("int").as("turn_idx"),
        col("pointer"), col("constraint"), col("actual"))
      .as[Violation]
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
    val checks = ConstraintCompiler.compile(schema, df.schema)
      .fold(e => throw new IllegalArgumentException(e), identity)
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
    val checks = ConstraintCompiler.compile(schema, df.schema)
      .fold(e => throw new IllegalArgumentException(e), identity)
    val perRow = checks.map(ch => coalesce((!ch.ok).cast("long"), lit(0L)))
      .reduceOption(_ + _).getOrElse(lit(0L))
    df.select(perRow.as("__nv"))
      .agg(coalesce(sum(col("__nv")), lit(0L)).as("n_violations"))
  }
}
