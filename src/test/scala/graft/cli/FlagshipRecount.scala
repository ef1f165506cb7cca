package graft.cli

import org.apache.spark.sql.Row

/** The flagship schema's checks, one predicate per (column, constraint),
  * each true on a violating row (draft-4 semantics, as the benchmark's
  * DuckDB recount states them): the plain-Scala count the CLI specs
  * hold the engine's counts against.
  */
object FlagshipRecount {
  private val conv = "^c[0-9]+$".r
  private val toolName = "^[a-z][a-z0-9_]*$".r
  private val roles = Set("system", "user", "assistant", "tool")

  def rowViolations(r: Row): Int = {
    def str(c: String) = Option(r.getAs[String](c))
    val turn = Option(r.getAs[Integer]("turn_idx")).map(_.intValue)
    Seq(
      str("conv_id").isEmpty,
      str("conv_id").exists(_.isEmpty),
      str("conv_id").exists(conv.findFirstIn(_).isEmpty),
      turn.isEmpty,
      turn.exists(_ < 0),
      turn.exists(_ > 4096),
      str("role").isEmpty,
      str("role").exists(!roles(_)),
      str("text").isEmpty,
      str("text").exists(_.length > 65536),
      str("tool").exists(toolName.findFirstIn(_).isEmpty),
      str("tool").isDefined && str("role").isEmpty,
      r.isNullAt(r.fieldIndex("ts"))
    ).count(identity)
  }
}
