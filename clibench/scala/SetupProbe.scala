package clibench

import java.nio.file.{Files, Paths}
import graft.compile.TableSchemaCompiler
import graft.exprs.{ConstraintCompiler, Validator}
import graft.pipeline.Dedup

/** Fresh-process set-up probe: does the work an operator's run does
  * before its first scan, prints `ready`, and exits.
  *
  *   SetupProbe table <schema.json> <parquet-dir>
  *   SetupProbe dedup <parquet-dir>
  *
  * `table`: session start, schema compile, constraint compile against
  * the input's schema and Catalyst planning of the validation plan.
  * `dedup`: session start and planning of the exact + LSH plan.
  */
object SetupProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.cli("clibench-setup")
    try {
      args match {
        case Array("table", schemaPath, inputDir) =>
          val schema = TableSchemaCompiler.compileString(Files.readString(Paths.get(schemaPath)))
            .fold(e => throw new IllegalArgumentException(e), identity)
          val df = spark.read.parquet(inputDir)
          val checks = ConstraintCompiler.compile(schema, df.schema)
            .fold(e => throw new IllegalArgumentException(e), identity)
          Validator.violationsForChecks(df, checks, Seq("conv_id", "turn_idx")).queryExecution.executedPlan
        case Array("dedup", inputDir) =>
          val exact = DedupMain.exactSurvivors(spark.read.parquet(inputDir))
          Dedup.minhashPairs(exact, k = DedupMain.K, bands = DedupMain.Bands, threshold = DedupMain.Threshold)
            .queryExecution.executedPlan
        case _ =>
          throw new IllegalArgumentException("usage: SetupProbe table <schema.json> <dir> | dedup <dir>")
      }
      println("ready")
      System.out.flush()
    } finally spark.stop()
  }
}
