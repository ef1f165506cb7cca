package graft.functions

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The custom codegen dot kernel must be bit-identical to the HOF form
  * (same sequential double accumulation) and run inside whole-stage
  * codegen.
  */
class VectorExpressionsSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark
  private def embeddings = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** The higher-order-function dot product the kernel replaced (same
    * sequential double accumulation), kept as its reference.
    */
  private def dotHof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  "FloatVecDot" should "be bit-identical to the HOF dot on real embeddings" in {
    val e = embeddings.limit(200)
    val a = e.select(col("vec_id"), graft.pipeline.Ann.dot(col("embedding"), col("embedding")).as("d"))
    val b = e.select(col("vec_id"), dotHof(col("embedding"), col("embedding")).as("d"))
    val am = a.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bm = b.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    am shouldBe bm // exact doubles, not approx
  }

  it should "handle nulls and length mismatches" in {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f))),
      (2L, None: Option[Seq[Float]], Some(Seq(1.0f))),
      (3L, Some(Seq(1.0f, 2.0f, 9.0f)), Some(Seq(2.0f)))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"), VectorFunctions.floatVecDot(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    out(1L) shouldBe Some(11.0)
    out(2L) shouldBe None         // null input -> null
    out(3L) shouldBe Some(2.0)    // min-length semantics
  }

  it should "stay inside whole-stage codegen" in {
    val plan = embeddings
      .select(graft.pipeline.Ann.dot(col("embedding"), col("embedding")).as("d"))
      .queryExecution.executedPlan.toString
    plan should include("*(") // WSCG span covers the projection
  }
}
