package graft.cli

import graft.stats.SchemaInfer
import graft.compile.TableSchemaCompiler

/** spark-submit entry point for constraint inference — the generative
  * inverse of the reference CLI (`JsonSchemaValidator.scala:13-31`
  * checks a schema; this WRITES one from data):
  *
  *   InferSchemaMain <parquet-dir> [out.json]
  *
  * Profiles the table ([[SchemaInfer.inferConstraints]]), renders a
  * draft-4 document, SELF-CHECKS it through the engine's own compile
  * pipeline (the document is only emitted if `TableSchemaCompiler`
  * re-parses it — an uncompilable render is a bug, not an output), and
  * writes it to `out.json` (or stdout). Exit 0 on success, 1 on usage,
  * 2 if the rendered document failed to recompile.
  *
  * The emitted schema validates the profiled table with zero
  * violations by construction; feed it straight to ValidateTableMain
  * to regression-gate future loads of the same feed.
  */
object InferSchemaMain {

  def main(args: Array[String]): Unit = args match {
    case Array(inputDir) => run(inputDir, None)
    case Array(inputDir, outPath) => run(inputDir, Some(outPath))
    case _ =>
      System.err.println("usage: InferSchemaMain <parquet-dir> [out.json]")
      sys.exit(1)
  }

  private def run(inputDir: String, outPath: Option[String]): Unit = {
    val spark = CliSession.open("graft-infer-schema")
    try {
      val df = spark.read.parquet(inputDir)
      val json = SchemaInfer.inferSchemaJson(df)
      TableSchemaCompiler.compileString(json) match {
        case Left(e) =>
          System.err.println(s"inferred schema failed to recompile (engine bug): $e")
          sys.exit(2)
        case Right(_) =>
          outPath match {
            case Some(p) =>
              java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json)
              println(s"inferred schema for $inputDir written to $p")
            case None => println(json)
          }
      }
    } finally spark.stop()
  }
}
