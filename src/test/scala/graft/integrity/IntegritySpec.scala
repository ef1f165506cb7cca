package graft.integrity

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions.desc
import graft.SparkTestBase
import graft.sources.TranscriptGen

/** Uniqueness + referential fixtures with planted duplicates/orphans and
  * a skewed conv_id (FIXTURES.md §4 skew-50k): the CLI's integrity path
  * must find exactly the planted sets.
  */
class IntegritySpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark

  "Integrity" should "find exactly the planted duplicate keys" in {
    val df = TranscriptGen.generate(spark, 20, 10, TranscriptGen.Defects(duplicates = true))
    val dups = Integrity.duplicateKeys(df, Seq("conv_id", "turn_idx")).collect()
    dups.length should be > 0
    all(dups.map(_.getLong(2))) shouldBe 2L // each planted dup re-emitted once
    // clean data has none
    val clean = TranscriptGen.generate(spark, 20, 10)
    Integrity.duplicateKeys(clean, Seq("conv_id", "turn_idx")).count() shouldBe 0
  }

  it should "emit uniqueness violations with key pointers" in {
    val df = TranscriptGen.generate(spark, 20, 10, TranscriptGen.Defects(duplicates = true))
    val v = Integrity.uniquenessViolations(df, Seq("conv_id", "turn_idx")).collect()
    v.length should be > 0
    val first = v.head
    first.getAs[String]("constraint") shouldBe "uniqueItems"
    first.getAs[String]("pointer") shouldBe
      s"/${first.getAs[String]("conv_id")}/turn_idx"
    first.getAs[String]("actual") shouldBe "count=2"
  }

  it should "find exactly the planted orphan conversations" in {
    val df = TranscriptGen.generate(spark, 100, 5, TranscriptGen.Defects(orphans = true))
    val orphanRows = Integrity.referentialViolations(df).collect()
    // ghosts: numConvs/50 * 3 rows = 2 * 3
    orphanRows.length shouldBe 6
    all(orphanRows.map(_.getAs[String]("constraint"))) shouldBe "ref"
    all(orphanRows.map(_.getAs[Int]("turn_idx"))) should be >= 1
    // conv ids beyond the generated range
    all(orphanRows.map(_.getAs[String]("conv_id").drop(1).toLong)) should be >= 100L
  }

  it should "find exactly the planted duplicates and orphans on the CLI path under skew" in {
    // the ValidateTableMain path: one keyspace groupBy for both checks,
    // broadcast join-back for orphan rows; conv c0 carries ~20% of rows
    val df = TranscriptGen.generate(spark, 1000, 50,
      TranscriptGen.Defects(duplicates = true, orphans = true), skewTopConvFraction = 0.2).cache()
    try {
      // the expected sets, counted in plain Scala from the collected keys
      val keys = df.select("conv_id", "turn_idx").collect()
        .map(r => (r.getString(0), r.getInt(1))).toSeq
      val expectedDups = keys.groupBy(identity).collect {
        case (k, occ) if occ.size > 1 => (k._1, k._2, occ.size.toLong)
      }.toSet
      val roots = keys.collect { case (c, 0) => c }.toSet
      val expectedOrphans = keys.filterNot { case (c, _) => roots(c) }.sorted
      // skew collapses conv 0 onto itself (every turn duplicated); the
      // crc32 rule plants the rest, the ghost convs c1000..c1019 the orphans
      expectedDups.map(_._1) should contain("c0")
      expectedDups.exists(_._1 != "c0") shouldBe true
      expectedOrphans.map(_._1).distinct shouldBe (1000 until 1020).map(i => s"c$i").sorted

      val report = Integrity.integrityReport(df)
      try {
        val dups = report.duplicateKeys.collect()
          .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
        val orphans = Integrity.orphanRows(df, report.orphanConvs)
          .select("conv_id", "turn_idx").collect()
          .map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
        dups shouldBe expectedDups
        orphans shouldBe expectedOrphans
      } finally report.unpersist()
    } finally df.unpersist()
  }

  it should "verify the skew fixture actually is skewed (top conv ~20%)" in {
    val df = TranscriptGen.generate(spark, 1000, 50, skewTopConvFraction = 0.2)
    val top = df.groupBy("conv_id").count().orderBy(desc("count")).first()
    top.getAs[String]("conv_id") shouldBe "c0"
    top.getAs[Long]("count").toDouble / (1000 * 50) shouldBe 0.2 +- 0.02
  }

  "Integrity.turnContiguity" should "flag gaps, duplicates, and non-zero roots only" in {
    import spark.implicits._
    val df = Seq(
      ("ok", Some(0)), ("ok", Some(1)), ("ok", Some(2)),   // contiguous: clean
      ("gap", Some(0)), ("gap", Some(2)),                  // hole at 1
      ("dup", Some(0)), ("dup", Some(1)), ("dup", Some(1)),// duplicate index
      ("root", Some(1)), ("root", Some(2)),                // missing 0 root
      ("nulls", None), ("nulls", None),                    // all-null idx: flagged (n_distinct 0 != n)
      ("mixed", Some(0)), ("mixed", None)                  // partial null: flagged
    ).toDF("conv_id", "turn_idx")
    val flagged = Integrity.turnContiguity(df)
      .select("conv_id").as[String].collect().sorted.toSeq
    flagged shouldBe Seq("dup", "gap", "mixed", "nulls", "root")
  }

  "Integrity.functionalDependencyViolations" should "name determinants with >1 dependent value" in {
    import spark.implicits._
    val df = Seq(("s1", "en"), ("s1", "en"), ("s2", "en"), ("s2", "de"), ("s2", "fr"))
      .toDF("source", "lang")
    val got = Integrity.functionalDependencyViolations(df, "source", "lang")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    got shouldBe List(("s2", 3L, 3L))
  }
}
