package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registers the engine's custom Catalyst expressions as SQL functions,
  * so `spark.sql` users get the same kernels the DataFrame API uses.
  * Each kernel is one Scala function: `nullSafeEval` runs it, and the
  * expression's generated code only calls it, so interpreted eval and
  * whole-stage codegen compute the same result (`GraftExtensionsSpec`
  * runs every function below both ways).
  *
  *   spark.sql.extensions=graft.GraftExtensions    (config route), or
  *   GraftExtensions.install(spark)                 (live session route)
  *
  * Functions:
  *  - `rolling_hash(str)`            -> bigint  ([[graft.functions.RollingHash]])
  *  - `float_vec_dot(a, b)`          -> double  ([[graft.functions.FloatVecDot]])
  *  - `simple_pattern(str, pattern)` -> boolean ([[graft.functions.SimplePatternMatch]];
  *    pattern must be a literal the fast path supports — unsupported
  *    shapes are rejected at registration with a clear message, so SQL
  *    users fall back to `rlike` consciously rather than silently)
  *  - `regex_compiles(str)`          -> boolean ([[graft.functions.RegexCompiles]])
  *  - `json_render(value)`           -> string  ([[graft.functions.JsonRender]])
  *  - `float_vec_max_abs(a)`         -> float   ([[graft.functions.FloatVecMaxAbs]])
  *  - `quantize_int8(a)`             -> array<tinyint> ([[graft.functions.QuantizeInt8Codes]])
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registrations.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
}

object GraftExtensions {

  private def one(name: String, usage: String, arity: Int,
                  build: Seq[Expression] => Expression) = {
    val builder: Seq[Expression] => Expression = { args =>
      require(args.length == arity, s"$name expects $arity argument(s), got ${args.length}")
      build(args)
    }
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft", name, usage),
      builder)
  }

  private[graft] val registrations = Seq(
    one("rolling_hash", "rolling_hash(str) - Rabin-Karp byte polynomial mod 1e9+7", 1,
      args => graft.functions.RollingHash(args.head)),
    one("float_vec_dot", "float_vec_dot(a, b) - double-precision dot product of two float arrays", 2,
      args => graft.functions.FloatVecDot(args(0), args(1))),
    one("simple_pattern", "simple_pattern(str, pattern) - codegen byte-loop anchored pattern match", 2,
      args => {
        val pattern = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(s, _) if s != null => s.toString
          case other => throw new IllegalArgumentException(
            s"simple_pattern requires a literal pattern, got $other")
        }
        require(graft.functions.SimplePattern.compile(pattern).isDefined,
          s"pattern not supported by the simple_pattern fast path (use rlike): $pattern")
        graft.functions.SimplePatternMatch(args.head, pattern)
      }),
    one("regex_compiles", "regex_compiles(str) - TRUE iff the value compiles as a regular expression (format:\"regex\")", 1,
      args => graft.functions.RegexCompiles(args.head)),
    one("json_render", "json_render(value) - codegen JSON rendering, byte-identical to to_json on supported types", 1,
      args => graft.functions.JsonRender(args.head)),
    one("float_vec_max_abs", "float_vec_max_abs(a) - max |x_i| over a float array's non-null elements (null if none)", 1,
      args => graft.functions.FloatVecMaxAbs(args.head)),
    one("quantize_int8", "quantize_int8(a) - symmetric int8 codes (scale = max_abs/127); pair with float_vec_max_abs for the scale", 1,
      args => graft.functions.QuantizeInt8Codes(args.head)))

  /** Register into an already-running session (extensions configs only
    * apply at session construction).
    */
  def install(spark: SparkSession): Unit =
    registrations.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
