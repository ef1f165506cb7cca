package graft.streaming

import java.sql.Timestamp
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkTestBase
import graft.compile.TableSchemaCompiler
import graft.exprs.Validator

object StreamingSpec {
  final case class Turn(conv_id: String, turn_idx: Int, role: String,
                        text: String, tool: String, ts: Timestamp)
}

/** Structured-Streaming validation: the compiled batch plan must run
  * unchanged on a stream, micro-batch by micro-batch.
  */
class StreamingSpec extends AnyFlatSpec with Matchers {
  import StreamingSpec.Turn

  private lazy val spark = SparkTestBase.spark
  private val schema = TableSchemaCompiler
    .compileString(graft.compile.Fixtures.flagshipSchema).toOption.get

  private def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  "Validator.violations" should "emit the same violations as the batch plan, per micro-batch" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = Validator.violations(input.toDF(), schema, Seq("conv_id", "turn_idx"))
      .writeStream.format("memory").queryName("svio").outputMode("append").start()
    try {
      input.addData(
        Turn("c1", 0, "system", "hello", null, ts(0)),
        Turn("c1", 1, "operator", "bad role", null, ts(1)), // enum violation
        Turn("c1", -1, "user", "bad idx", null, ts(2)))     // minimum violation
      q.processAllAvailable()
      val got = spark.sql("SELECT constraint, pointer FROM svio").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      got shouldBe Set(
        ("enum", "/c1/1/role"),
        ("minimum", "/c1/-1/turn_idx"))

      input.addData(Turn("c1", 2, "tool", "t", "Bad-Tool", ts(3))) // pattern violation
      q.processAllAvailable()
      spark.sql("SELECT count(*) FROM svio").first().getLong(0) shouldBe 3L
    } finally q.stop()
  }
}
