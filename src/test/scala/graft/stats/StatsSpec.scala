package graft.stats

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.sources.TranscriptGen

/** Stats + drift golden tests (FIXTURES.md §4 clean-100 exact stats,
  * drift-pair hand-computed KL/PSI to 1e-9).
  */
class StatsSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark

  "Stats" should "compute exact count/null/min/max and HLL distinct on clean-100" in {
    val df = TranscriptGen.generate(spark, 10, 10)
    val rows = Stats.profileLong(df, Seq("conv_id", "turn_idx", "role", "tool"))
      .collect().map(r => r.getAs[String]("column") -> r).toMap

    rows("conv_id").getAs[Long]("cnt") shouldBe 100L
    rows("conv_id").getAs[Long]("null_count") shouldBe 0L
    rows("turn_idx").getAs[String]("min_value") shouldBe "0"
    rows("turn_idx").getAs[String]("max_value") shouldBe "9"
    rows("turn_idx").getAs[Long]("approx_distinct") shouldBe 10L // HLL exact at tiny n
    rows("role").getAs[Long]("approx_distinct") shouldBe 4L
    // tool is null except on tool turns
    rows("tool").getAs[Long]("null_count") should be > 50L
  }

  it should "profile a map column by count and nulls, leaving min/max/distinct null" in {
    import spark.implicits._
    val df = Seq((1, Option(Map("a" -> "x"))), (2, None), (3, Option(Map("b" -> "y"))))
      .toDF("id", "attrs")
    val rows = Stats.profileLong(df, df.columns.toSeq)
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    rows.keySet shouldBe Set("id", "attrs")
    val m = rows("attrs")
    m.getAs[Long]("cnt") shouldBe 3L
    m.getAs[Long]("null_count") shouldBe 1L
    m.isNullAt(m.fieldIndex("min_value")) shouldBe true
    m.isNullAt(m.fieldIndex("max_value")) shouldBe true
    m.isNullAt(m.fieldIndex("approx_distinct")) shouldBe true
    // the orderable neighbour is profiled as before
    rows("id").getAs[String]("min_value") shouldBe "1"
    rows("id").getAs[String]("max_value") shouldBe "3"
    rows("id").getAs[Long]("approx_distinct") shouldBe 3L
  }

  it should "compute t-digest quantiles within tolerance in one agg" in {
    import spark.implicits._
    val df = spark.range(1, 10001).select(col("id").cast("double").as("v"))
    val q = df.agg(Stats.quantileAgg(col("v"), Seq(0.5, 0.9, 0.99)).as("q"))
      .collect()(0).getAs[scala.collection.Seq[Double]]("q")
    q(0) shouldBe 5000.0 +- 100.0
    q(1) shouldBe 9000.0 +- 100.0
    q(2) shouldBe 9900.0 +- 50.0
  }

  // every Drift case below reads one (kl, psi, jsd) per case id, all
  // evaluated in ONE DataFrame: histograms built by Drift.histogram from
  // rows, and generated histograms packed in its (h, pt, qt) row form
  private val handP = Map("a" -> 50L, "b" -> 50L)
  private val handQ = Map("a" -> 25L, "b" -> 75L)

  private lazy val randomHistograms: Seq[(Map[String, Long], Map[String, Long])] = {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val hist: Gen[Map[String, Long]] = Gen.nonEmptyMap(
      Gen.zip(Gen.stringOfN(3, Gen.alphaChar), Gen.chooseNum(1L, 1000L)))
    Gen.listOfN(300, Gen.zip(hist, hist)).pureApply(Gen.Parameters.default, Seed(20261017L))
  }

  /** `current` rows (the p side) and `reference` rows (q), flagged `cur`. */
  private def sides(current: DataFrame, reference: DataFrame): DataFrame =
    current.withColumn("cur", lit(true)).unionByName(reference.withColumn("cur", lit(false)))

  private lazy val drift: Map[String, (Double, Double, Double)] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // one row per counted value
    def rows(h: Map[String, Long]): DataFrame = {
      import spark.implicits._
      h.toSeq.flatMap { case (k, n) => Seq.fill(n.toInt)(k) }.toDF("role")
    }
    def viaHistogram(id: String, df: DataFrame): DataFrame =
      Drift.histogram(df, Drift.categoricalBucket(col("role")), col("cur"))
        .select(lit(id).as("id"), col("h"), col("pt"), col("qt"))
    // the packed row Drift.histogram builds: bucket-sorted counts over
    // the key union, with the side totals
    def packed(id: String, p: Map[String, Long], q: Map[String, Long]): Row =
      Row(id, (p.keySet ++ q.keySet).toSeq.sorted.map(k =>
        Row(k, p.getOrElse(k, 0L), q.getOrElse(k, 0L))), p.values.sum, q.values.sum)
    val packedSchema = StructType(Seq(
      StructField("id", StringType),
      StructField("h", ArrayType(StructType(Seq(StructField("bucket", StringType),
        StructField("pc", LongType), StructField("qc", LongType))))),
      StructField("pt", LongType), StructField("qt", LongType)))
    val generated = randomHistograms.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq(packed(s"r$i", a, b), packed(s"r$i-rev", b, a), packed(s"r$i-same", a, a))
    } :+ packed("disjoint", Map("a" -> 1L), Map("b" -> 1L))
    val a = TranscriptGen.generate(spark, 50, 10)
    val b = TranscriptGen.generate(spark, 50, 10,
      TranscriptGen.Defects(badEnumRole = true, nullRole = true))
    Seq(
      viaHistogram("hand", sides(rows(handP), rows(handQ))),
      viaHistogram("hand-rev", sides(rows(handQ), rows(handP))),
      viaHistogram("hand-same", sides(rows(handP), rows(handP))),
      viaHistogram("snapshot-same", sides(a, a)),
      viaHistogram("snapshot-shift", sides(b, a)),
      spark.createDataFrame(spark.sparkContext.parallelize(generated, 4), packedSchema)
    ).reduce(_ unionByName _)
      .select(col("id"), Drift.kl, Drift.psi, Drift.jsd)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
  }

  "Drift" should "match hand-computed KL and PSI to 1e-9" in {
    val (kl, psi, _) = drift("hand")
    val expectedKl = 0.5 * math.log(0.5 / 0.25) + 0.5 * math.log(0.5 / 0.75)
    val expectedPsi = (0.5 - 0.25) * math.log(0.5 / 0.25) + (0.5 - 0.75) * math.log(0.5 / 0.75)
    kl shouldBe expectedKl +- 1e-9
    psi shouldBe expectedPsi +- 1e-9
  }

  "Stats.cdfByGroup" should "rank each row against its own group's exact CDF" in {
    import spark.implicits._
    // group a values 10,20,20,40 -> cdf 0, .25, .25, .75; group b 5 -> 0
    val df = Seq(
      (1L, Some("a"), Some(10L)), (2L, Some("a"), Some(20L)),
      (3L, Some("a"), Some(20L)), (4L, Some("a"), Some(40L)),
      (5L, Some("b"), Some(5L)),
      (6L, None, Some(9L)), (7L, Some("a"), None) // null group/value: excluded
    ).toDF("id", "grp", "v")
    val got = Stats.cdfByGroup(df, "v", "grp")
      .select("id", "cdf").collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    got shouldBe Map(1L -> 0.0, 2L -> 0.25, 3L -> 0.25, 4L -> 0.75, 5L -> 0.0)
    // schema passes through plus cdf
    Stats.cdfByGroup(df, "v", "grp").columns.toSeq shouldBe Seq("id", "grp", "v", "cdf")
  }

  "Stats.zscoreOutliers" should "flag rows by their own group's population sigma" in {
    import spark.implicits._
    // group a: 0,0,0,10 -> mean 2.5, var 18.75, sd ~4.33, z(10) ~1.732
    // group b: constant -> sd 0, flags nothing; null value never flags
    val df = Seq(
      (1L, "a", Some(0.0)), (2L, "a", Some(0.0)), (3L, "a", Some(0.0)),
      (4L, "a", Some(10.0)), (5L, "b", Some(7.0)), (6L, "b", Some(7.0)),
      (7L, "a", None)
    ).toDF("id", "grp", "v")
    Stats.zscoreOutliers(df, "v", "grp", threshold = 3.0).count() shouldBe 0L
    val hit = Stats.zscoreOutliers(df, "v", "grp", threshold = 1.5)
      .select("id", "zscore").collect().map(r => (r.getLong(0), r.getDouble(1)))
    hit.map(_._1).toSeq shouldBe Seq(4L)
    hit.head._2 shouldBe (7.5 / math.sqrt(18.75) +- 1e-6)
    // schema passes through plus the zscore column
    Stats.zscoreOutliers(df, "v", "grp").columns.toSeq shouldBe Seq("id", "grp", "v", "zscore")
  }

  it should "match hand-computed JSD, stay symmetric and bounded" in {
    def side(x: Double, m: Double) = 0.5 * x * math.log(x / m)
    val expected = (side(0.5, 0.375) + side(0.25, 0.375) +
      side(0.5, 0.625) + side(0.75, 0.625)) / math.log(2.0)
    val jsd = drift("hand")._3
    jsd shouldBe expected +- 1e-9
    jsd shouldBe drift("hand-rev")._3 // symmetric, unlike KL
    drift("hand-same")._3 shouldBe 0.0 +- 1e-12
    // disjoint supports approach the 1-bit bound (eps keeps it finite)
    val d = drift("disjoint")._3
    d should be > 0.99
    d should be <= 1.0 + 1e-9
  }

  it should "hold the JSD/KL invariants on random histograms (property)" in {
    randomHistograms.size shouldBe 300
    val failed = randomHistograms.indices.filterNot { i =>
      val (kl, _, d) = drift(s"r$i")
      d >= 0.0 && d <= 1.0 + 1e-9 &&                  // bounded
        math.abs(d - drift(s"r$i-rev")._3) < 1e-12 && // symmetric
        drift(s"r$i-same")._3 < 1e-12 &&              // identity
        kl >= -1e-9                                   // Gibbs (within smoothing)
    }
    withClue(failed.headOption.map(i => randomHistograms(i)).toString)(failed shouldBe empty)
  }

  it should "be ~zero for identical snapshots and positive for shifted ones" in {
    val (klSame, psiSame, _) = drift("snapshot-same")
    klSame shouldBe 0.0 +- 1e-12
    psiSame shouldBe 0.0 +- 1e-12
    val (klShift, psiShift, _) = drift("snapshot-shift")
    klShift should be > 0.0
    psiShift should be > 0.0
  }

  it should "measure text-length drift through banded histograms" in {
    import spark.implicits._
    // the banding rule: [i*16, (i+1)*16), capped at 63; null text is 0
    Seq(Some("x" * 15), Some("x" * 16), Some("x" * 5000), None).toDF("text")
      .select(Drift.textLengthBucket(col("text"))).as[Long].collect().toSeq shouldBe
      Seq(0L, 1L, 63L, 0L)
    val a = TranscriptGen.generate(spark, 50, 10)
    val b = TranscriptGen.generate(spark, 50, 10, TranscriptGen.Defects(emptyText = true))
    def klOf(id: String, current: DataFrame, reference: DataFrame) =
      Drift.histogram(sides(current, reference), Drift.textLengthBucket(col("text")), col("cur"))
        .select(lit(id).as("id"), Drift.kl.as("kl"))
    val kl = klOf("shift", b, a).unionByName(klOf("same", a, a))
      .as[(String, Double)].collect().toMap
    kl("shift") should be > 0.0
    kl("same") shouldBe 0.0 +- 1e-12
  }

  "Stats.aboveQuantileExact" should "cut at the exact interpolated quantile" in {
    import spark.implicits._
    val df = (1 to 10).toDF("v")
    // quantile_cont semantics: the 0.5-quantile of 1..10 is 5.5
    val kept = Stats.aboveQuantileExact(df, "v", 0.5)
      .collect().map(_.getInt(0)).sorted
    kept shouldBe Array(6, 7, 8, 9, 10)
    // q=0 keeps everything; an expression (not a bare column) works too
    Stats.aboveQuantileExact(df, "v * 2", 0.0).count() shouldBe 10
  }

  "Stats.bucketByQuantilesExact" should "assign terciles with >= boundaries, nulls lowest" in {
    import spark.implicits._
    // 1..9: terciles at quantile_cont(1/3)=11/3~3.67 and (2/3)=19/3~6.33
    val df = ((1 to 9).map(Some(_)) :+ None).toDF("v")
    val got = Stats.bucketByQuantilesExact(df, "v", Seq(1.0 / 3, 2.0 / 3),
        Seq("tail", "middle", "head"))
      .collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
    val want = Set(
      Some(1) -> "tail", Some(2) -> "tail", Some(3) -> "tail",
      Some(4) -> "middle", Some(5) -> "middle", Some(6) -> "middle",
      Some(7) -> "head", Some(8) -> "head", Some(9) -> "head",
      None -> "tail") // null meets no threshold -> lowest bucket
    got shouldBe want.map { case (k, v) => (k: Option[Any], v) }
    // a value exactly AT a threshold goes up: with 0..10 the median is 5
    val at = Stats.bucketByQuantilesExact((0 to 10).toDF("v"), "v", Seq(0.5),
        Seq("lo", "hi"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    at(5) shouldBe "hi"
    at(4) shouldBe "lo"
  }

  "Stats.aboveQuantileByGroupExact" should "judge each row against its own group's quantile" in {
    import spark.implicits._
    // group a: 1..4, median (quantile_cont 0.5) = 2.5 -> keeps 3, 4
    // group b: 10,20, median = 15 -> keeps 20
    // null group is a group of its own: 100,200 -> keeps 200
    val df = Seq(
      (1L, Some("a"), 1.0), (2L, Some("a"), 2.0), (3L, Some("a"), 3.0), (4L, Some("a"), 4.0),
      (5L, Some("b"), 10.0), (6L, Some("b"), 20.0),
      (7L, None, 100.0), (8L, None, 200.0)
    ).toDF("id", "grp", "score")
    val kept = Stats.aboveQuantileByGroupExact(df, "score", 0.5, "grp")
      .select("id").as[Long].collect().sorted
    kept.toSeq shouldBe Seq(3L, 4L, 6L, 8L)
    // the output keeps the input schema (threshold plumbing dropped)
    Stats.aboveQuantileByGroupExact(df, "score", 0.5, "grp").columns.toSeq shouldBe
      Seq("id", "grp", "score")
  }
}
