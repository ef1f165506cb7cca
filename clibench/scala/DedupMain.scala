package clibench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.pipeline.Dedup

/** Untraced corpus_dedup run, launched fresh per timed run: exact
  * dedup, then near-dup removal over the exact survivors.
  *
  *   DedupMain <docs-parquet-dir> <outDir>
  *
  * Writes the surviving `doc_id`s to `<outDir>/survivors` and prints
  * their count.
  */
object DedupMain {
  /** LSH settings of the `neardup_survivors` gate query. */
  val K = 24
  val Bands = 12
  val Threshold = 0.5

  /** Documents whose text is the first (smallest id) of its exact copies. */
  def exactSurvivors(docs: DataFrame): DataFrame =
    docs.join(Dedup.exactSurvivors(docs).select(col("keep_id").as("doc_id")), "doc_id")

  def main(args: Array[String]): Unit = {
    val Array(inputDir, outDir) = args
    val spark = Session.cli("clibench-dedup")
    try {
      val docs = spark.read.parquet(inputDir)
      Dedup.nearDupSurvivors(exactSurvivors(docs), k = K, bands = Bands, threshold = Threshold)
        .select("doc_id")
        .write.parquet(s"$outDir/survivors")
      println(s"survivors ${spark.read.parquet(s"$outDir/survivors").count()}")
    } finally spark.stop()
  }
}
