package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.compile.TableSchema
import graft.exprs.Validator
import graft.gates._
import graft.gates.Inputs.schema
import graft.sources.TranscriptDerive

/** Driver contract: one entry per implemented operator (SURVEY.md §2),
  * each with an equivalent DuckDB oracle. Every gate is one [[Gate]]
  * value in its operator family's file under `graft.gates`.
  */
object SparkEntry {

  /** Flagship schema for query-time validation (FIXTURES.md §2). */
  val querySchema: String = graft.compile.Fixtures.flagshipSchema

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    (Validator.violations(_: DataFrame, _: TableSchema, Seq("conv_id", "turn_idx")))(
      TranscriptDerive.fromLineitem(spark, "/root/testdata/sf0.001"), schema).toDF()

  val gates: Seq[Gate] = ValidationGates.all ++ ConversationGates.all ++ StatsGates.all ++
    DedupGates.all ++ TextGates.all ++ SamplingGates.all ++ EmbeddingGates.all

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.run).toMap

  val oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap
}
