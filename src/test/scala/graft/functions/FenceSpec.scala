package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** [[PushdownFence]]: value-transparent, but the optimizer must not
  * push a fenced filter below the projection that produces its inputs
  * (the substitution step re-evaluates the producing expressions once
  * per reference — the round-7 validator finding, ~10x on the flagship).
  */
class FenceSpec extends AnyFlatSpec with Matchers {
  private lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  behavior of "PushdownFence"

  it should "be value-transparent (same rows as the naked predicate)" in {
    val df = (1L to 100L).toDF("id")
      .select(col("id"), concat(lit("v"), col("id").cast("string")).as("s"))
    val naked = df.filter(col("s").endsWith("7")).collect().map(_.getLong(0)).sorted
    val fenced = df.filter(PushdownFence.fence(col("s").endsWith("7")))
      .collect().map(_.getLong(0)).sorted
    fenced shouldBe naked
    fenced.nonEmpty shouldBe true
  }

  it should "as a barrier-projection field, keep filters above the producing projection" in {
    // spark.range: a real leaf — a local Seq would constant-fold into a
    // LocalRelation and leave no Filter to inspect.
    // NB: fencing the PREDICATE does not help — Spark's
    // PushPredicateThroughNonJoin only checks the PROJECT FIELDS'
    // determinism, so a nondeterministic predicate is still pushed
    // below a deterministic projection with full substitution. The
    // working mechanism (what the validator uses) is a barrier
    // projection with one fenced field.
    val df = spark.range(100)
      .select(col("id"), concat(lit("v"), col("id").cast("string")).as("s"))
    def filterLine(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.optimizedPlan.toString.linesIterator
        .find(_.contains("Filter")).getOrElse(fail("no Filter node"))
    // naked projection: the predicate is substituted below the project
    // (the producing concat lands inside the Filter condition)
    filterLine(df.filter(col("s").endsWith("7"))) should include("concat")
    // barrier projection: the filter stays above and references the
    // attribute only
    val barrier = df.select(PushdownFence.fence(col("id")).as("id"), col("s"))
    filterLine(barrier.filter(col("s").endsWith("7"))) should not include "concat"
  }

  it should "stay on the codegen path (no fallback) inside the validator" in {
    // the fenced flagship predicate must not break whole-stage codegen:
    // the executed plan's filter stage still carries the * marker
    val schema = graft.compile.TableSchemaCompiler.compileString(
      graft.SparkEntry.querySchema).toOption.get
    val t = graft.sources.TranscriptGen.generate(spark, 50, 4,
      graft.sources.TranscriptGen.all)
    val v = graft.exprs.Validator.violations(t, schema, Seq("conv_id", "turn_idx"))
    v.count() should be > 0L
  }
}
