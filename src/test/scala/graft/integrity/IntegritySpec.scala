package graft.integrity

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions.{col, desc, lit}
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

  it should "apply one NULL-key rule on the CLI path and in the ref_orphans gate" in {
    import spark.implicits._
    val schema = graft.compile.TableSchemaCompiler
      .compileString(graft.compile.Fixtures.flagshipSchema).toOption.get
    // lineitem rows (l_orderkey, l_linenumber) that derive to: c1 rooted;
    // c2 without a root; c3 rooted plus a NULL turn_idx row; c4 with
    // only NULL turn_idx rows; and NULL conv_id rows, once with and once
    // without a turn-0 row among them
    val base = Seq[(Option[Long], Option[Int])](
      (Some(1L), Some(1)), (Some(1L), Some(2)), (Some(2L), Some(2)), (Some(2L), Some(3)),
      (Some(3L), Some(1)), (Some(3L), None), (Some(4L), None), (Some(4L), None),
      (None, Some(2)), (None, Some(3)))
    for (nullConvRoot <- Seq(false, true)) withClue(s"NULL conv_id turn-0 row: $nullConvRoot. ") {
      val dir = java.nio.file.Files.createTempDirectory("graft_null_keys").toString
      val keys = if (nullConvRoot) base :+ ((None, Some(1))) else base
      keys.toDF("l_orderkey", "l_linenumber")
        .select(col("l_orderkey"), lit(1L).as("l_partkey"), lit(1L).as("l_suppkey"),
          col("l_linenumber"), lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("l_shipdate"))
        .write.parquet(s"$dir/lineitem.parquet")
      graft.sources.TranscriptDerive.fromLineitem(spark, dir)
        .repartition(2).write.parquet(s"$dir/transcripts")
      val t = spark.read.parquet(s"$dir/transcripts")

      // the rule counted in plain Scala: rows of non-null conv_ids
      // that have no turn_idx = 0 row
      val rows = t.select("conv_id", "turn_idx").as[(Option[String], Option[Int])].collect().toSeq
      val roots = rows.collect { case (Some(c), Some(0)) => c }.toSet
      val expected = rows.filter { case (c, _) => c.exists(!roots(_)) }.sorted
      expected.map(_._1).distinct shouldBe Seq(Some("c2"), Some("c4"))
      expected.size shouldBe 4

      // the orphan-conversation set and the rows orphanRows emits for it
      val report = Integrity.integrityReport(t)
      try {
        val orphanConvs = report.orphanConvs.as[Option[String]].collect().toSet
        orphanConvs shouldBe Set(Some("c2"), Some("c4"))
        Integrity.orphanRows(t, report.orphanConvs).count() shouldBe
          rows.count { case (c, _) => orphanConvs(c) }.toLong
      } finally report.unpersist()

      // ValidateTableMain and the gate emit the same (conv_id, turn_idx) multiset
      val out = s"$dir/out"
      val verdict = graft.cli.ValidateTableMain.run(spark, schema, s"$dir/transcripts", out)
        .fold(d => fail(s"run reported drift: $d"), identity)
      val cli = spark.read.parquet(s"$out/referential_violations")
        .select("conv_id", "turn_idx").as[(Option[String], Option[Int])].collect().toSeq.sorted
      val gate = graft.SparkEntry.queries("ref_orphans")(spark, dir)
        .select("conv_id", "turn_idx").as[(Option[String], Option[Int])].collect().toSeq.sorted
      cli shouldBe expected
      gate shouldBe expected
      verdict.orphanRows shouldBe expected.size.toLong

      // a uniqueness constraint binds only keys with no NULL part: the
      // two (c4, NULL) rows are no duplicate on the CLI path, in the
      // operator or in the gate, and `required` reports them instead
      verdict.duplicateKeys shouldBe 0L
      Integrity.duplicateKeys(t, Seq("conv_id", "turn_idx")).count() shouldBe 0L
      graft.SparkEntry.queries("uniq_duplicates")(spark, dir).count() shouldBe 0L
      spark.read.parquet(s"$out/violations")
        .filter(col("conv_id") === "c4" && col("turn_idx").isNull &&
          col("constraint") === "required" && col("pointer").endsWith("/turn_idx"))
        .count() shouldBe 2L

      // NULL conv_id rows are absent references, reported by `required`
      val nullConvRows = rows.count(_._1.isEmpty).toLong
      spark.read.parquet(s"$out/violations")
        .filter(col("conv_id").isNull && col("constraint") === "required" &&
          col("pointer").endsWith("/conv_id"))
        .count() shouldBe nullConvRows
    }
  }

  it should "verify the skew fixture actually is skewed (top conv ~20%)" in {
    val df = TranscriptGen.generate(spark, 1000, 50, skewTopConvFraction = 0.2)
    val top = df.groupBy("conv_id").count().orderBy(desc("count")).first()
    top.getAs[String]("conv_id") shouldBe "c0"
    top.getAs[Long]("count").toDouble / (1000 * 50) shouldBe 0.2 +- 0.02
  }

  "Integrity.integrityReport" should "find dups and orphans from one full-data shuffle" in {
    val df = TranscriptGen.generate(spark, 100, 5,
      TranscriptGen.Defects(duplicates = true, orphans = true)).cache()
    try {
      val report = Integrity.integrityReport(df)
      // matches the independent operators
      val expectedDups = Integrity.duplicateKeys(df, Seq("conv_id", "turn_idx"))
        .collect().map(_.toString).sorted
      report.duplicateKeys.collect().map(_.toString).sorted shouldBe expectedDups
      val expectedOrphanConvs = Integrity.referentialViolations(df)
        .select("conv_id").distinct().collect().map(_.getString(0)).sorted
      report.orphanConvs.collect().map(_.getString(0)).sorted shouldBe expectedOrphanConvs
      // row-level emission via broadcast join-back
      Integrity.orphanRows(df, report.orphanConvs).count() shouldBe
        Integrity.referentialViolations(df).count()
      report.unpersist()
    } finally df.unpersist()
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
