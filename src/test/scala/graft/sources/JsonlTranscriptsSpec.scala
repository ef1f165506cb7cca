package graft.sources

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** JSONL source: pinned-schema parse, corrupt-record quarantine, and
  * the write→read identity (micros timestamps included) over real
  * files.
  */
class JsonlTranscriptsSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  "JsonlTranscripts" should "round-trip a transcript table through files, micros intact" in {
    val df = TranscriptGen.generate(spark, 5, 6)
      // plant non-zero microseconds so the format pin is actually exercised
      .withColumn("ts", col("ts") + expr("make_interval(0,0,0,0,0,0,0.123456)"))
    val dir = java.nio.file.Files.createTempDirectory("jsonl_rt").toString
    try {
      df.select(JsonlTranscripts.jsonLine(df).as("value")).coalesce(1)
        .write.mode("overwrite").text(dir)
      val back = JsonlTranscripts.parse(spark.read.text(dir))
      back.filter(col("_corrupt").isNotNull).count() shouldBe 0L
      val key = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
      back.drop("_corrupt").except(df.select(key.map(col): _*)).count() shouldBe 0L
      df.select(key.map(col): _*).except(back.drop("_corrupt")).count() shouldBe 0L
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  it should "quarantine invalid lines and keep fields parsed before a binding failure" in {
    val lines = Seq(
      """{"conv_id":"c1","turn_idx":0,"role":"user","text":"hi","ts":"2024-01-02 03:04:05.000001"}""",
      """not json at all""",
      """{"conv_id":"c2","turn_idx":"oops"}""", // type mismatch mid-record
      """{"conv_id":"c3","turn_idx":2,"role":"tool","tool":"calc","unknown_field":7}"""
    ).toDF("value")
    val parsed = JsonlTranscripts.parse(lines).cache()
    try {
      val (clean, bad) = JsonlTranscripts.quarantine(parsed)
      clean.count() shouldBe 2L
      bad.count() shouldBe 2L
      // the structurally-invalid line keeps its raw text
      bad.filter(col("conv_id").isNull).select("_corrupt").as[String].head() shouldBe
        "not json at all"
      // the type-mangled line keeps conv_id (parsed before the failure)
      val partial = bad.filter(col("conv_id") === "c2").collect()
      partial.length shouldBe 1
      partial.head.isNullAt(partial.head.fieldIndex("turn_idx")) shouldBe true
      // unknown fields are ignored under the pinned schema
      clean.filter(col("conv_id") === "c3").select("tool").as[String].head() shouldBe "calc"
      // micros survive
      clean.filter(col("conv_id") === "c1").select(date_format(col("ts"),
        "yyyy-MM-dd HH:mm:ss.SSSSSS")).as[String].head() shouldBe "2024-01-02 03:04:05.000001"
    } finally parsed.unpersist()
  }
}
