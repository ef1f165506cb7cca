package graft.cli

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import graft.SparkTestBase
import graft.checkpoint.Checkpoint
import graft.compile.{TableSchema, TableSchemaCompiler}
import graft.sources.TranscriptGen
import graft.stats.Stats

/** The CLI run end to end: verdict counts and `stats/` against counts
  * made in plain Scala over the collected table, on the generated tables
  * and on hostile keyspaces (no roots, many duplicates, NULL key parts,
  * one hot conversation).
  */
class ValidateTableMainSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark
  private val schema = TableSchemaCompiler
    .compileString(graft.compile.Fixtures.flagshipSchema).toOption.get

  private def tmp(): String = Files.createTempDirectory("graft_cli").toString

  private def writeTable(dir: String, defects: TranscriptGen.Defects): Unit =
    TranscriptGen.generate(spark, 100, 10, defects).repartition(4).write.parquet(dir)

  /** (row violations, duplicate keys, orphan rows) under the NULL rule of
    * `Integrity`: a key with a NULL part is never a duplicate, a NULL
    * `conv_id` is never an orphan.
    */
  private def expected(dir: String, extraViolations: Row => Int = _ => 0): (Long, Long, Long) = {
    val rows = spark.read.parquet(dir).collect().toSeq
    val keys = rows.map(r => (r.getAs[String]("conv_id"), r.getAs[Integer]("turn_idx")))
      .filter { case (c, t) => c != null && t != null }
      .groupBy(identity)
    val rooted = rows.filter(r => r.getAs[Integer]("turn_idx") == 0).map(_.getAs[String]("conv_id")).toSet
    (rows.map(r => FlagshipRecount.rowViolations(r) + extraViolations(r)).sum.toLong,
      keys.count(_._2.size > 1).toLong,
      rows.count(r => r.getAs[String]("conv_id") != null && !rooted(r.getAs[String]("conv_id"))).toLong)
  }

  private def statsRows(out: String): Set[Row] = spark.read.parquet(s"$out/stats").collect().toSet

  /** `stats/` of a run over `in`: one part file holding exactly the rows
    * `Stats.profileLong` gives over the table, with each column's count
    * and nulls as plain Scala counts them.
    */
  private def checkStats(in: String, out: String): Unit = {
    val table = spark.read.parquet(in)
    val cols = table.columns.toSeq
    val profile = Stats.profileLong(table, cols)
    val stats = spark.read.parquet(s"$out/stats")
    stats.schema.map(f => f.name -> f.dataType) shouldBe profile.schema.map(f => f.name -> f.dataType)
    Files.list(Paths.get(out, "stats")).iterator.asScala
      .count(_.getFileName.toString.startsWith("part-")) shouldBe 1
    statsRows(out) shouldBe profile.collect().toSet

    val rows = table.collect().toSeq
    val counted = stats.collect().map(r =>
      r.getAs[String]("column") -> ((r.getAs[Long]("cnt"), r.getAs[Long]("null_count")))).toMap
    counted shouldBe cols.map(c => c -> ((rows.size.toLong, rows.count(_.isNullAt(table.schema.fieldIndex(c))).toLong))).toMap
  }

  /** Run the CLI over `df` written as a 4-file table; check its verdict
    * and `stats/` against plain Scala and return the verdict. A schema
    * that declares columns beyond the flagship's counts their
    * violations with `extraViolations`.
    */
  private def runChecked(df: DataFrame, schema: TableSchema = schema,
                         extraViolations: Row => Int = _ => 0): ValidateTableMain.Verdict = {
    val (in, out) = (tmp() + "/in", tmp())
    df.repartition(4).write.parquet(in)
    val (rowVios, dups, orphans) = expected(in, extraViolations)
    val v = ValidateTableMain.run(spark, schema, in, out)
    (v.rowViolations, v.duplicateKeys, v.orphanRows) shouldBe ((rowVios, dups, orphans))
    checkStats(in, out)
    v
  }

  "ValidateTableMain.run" should "pass a clean table with 0/0/0 (empty orphan build side)" in {
    val in = tmp() + "/in"
    writeTable(in, TranscriptGen.clean)
    val v = ValidateTableMain.run(spark, schema, in, tmp())
    v shouldBe ValidateTableMain.Verdict(4, 4, 0L, 0L, 0L)
  }

  it should "count a dirty table's violations, duplicate keys and orphan rows as plain Scala does" in {
    val (in, out) = (tmp() + "/in", tmp())
    writeTable(in, TranscriptGen.all)
    val (rowVios, dups, orphans) = expected(in)
    Seq(rowVios, dups, orphans).foreach(_ should be > 0L)
    val v = ValidateTableMain.run(spark, schema, in, out)
    (v.rowViolations, v.duplicateKeys, v.orphanRows) shouldBe ((rowVios, dups, orphans))
    v.pendingUnits shouldBe 4
    checkStats(in, out)
    spark.read.parquet(s"$out/stats").filter(col("null_count") > 0).count() should be > 0L
  }

  it should "give the same verdict on a re-run, with 0 pending units" in {
    val in = tmp() + "/in"
    writeTable(in, TranscriptGen.all)
    val out = tmp()
    val first = ValidateTableMain.run(spark, schema, in, out)
    val firstStats = statsRows(out)
    val second = ValidateTableMain.run(spark, schema, in, out)
    second.pendingUnits shouldBe 0
    second shouldBe first.copy(pendingUnits = 0)
    statsRows(out) shouldBe firstStats
    checkStats(in, out)
  }

  it should "profile a map column by count and nulls, with null min/max/distinct" in {
    val (in, out) = (tmp() + "/in", tmp())
    TranscriptGen.generate(spark, 100, 10, TranscriptGen.all)
      .withColumn("meta", when(col("role") === "tool", map(lit("tool"), col("tool"))))
      .repartition(4).write.parquet(in)
    ValidateTableMain.run(spark, schema, in, out)
    checkStats(in, out)
    val meta = spark.read.parquet(s"$out/stats").filter(col("column") === "meta").collect().head
    meta.getAs[Long]("null_count") should be > 0L
    Seq("min_value", "max_value", "approx_distinct").foreach(f => meta.isNullAt(meta.fieldIndex(f)) shouldBe true)
  }

  it should "scan the input once per batch, once for the keyspace and once for the orphan join-back" in {
    val (in, out) = (tmp() + "/in", tmp())
    // more files than one batch holds: two batch writes
    TranscriptGen.generate(spark, 100, 10, TranscriptGen.all)
      .repartition(Checkpoint.DefaultBatchSize + 6).write.parquet(in)
    val (v, queries) = QueryScans.under(spark, in)(ValidateTableMain.run(spark, schema, in, out))
    val batches = (v.pendingUnits + Checkpoint.DefaultBatchSize - 1) / Checkpoint.DefaultBatchSize
    batches shouldBe 2
    queries.count(_.nonEmpty) shouldBe batches + 2
    checkStats(in, out)
  }

  it should "keep the manifest in the directory a file: URI outDir names" in {
    val (in, out) = (tmp() + "/in", tmp())
    writeTable(in, TranscriptGen.all)
    val first = ValidateTableMain.run(spark, schema, in, s"file://$out")
    first.pendingUnits shouldBe 4
    Files.readAllLines(Paths.get(out, "manifest.jsonl")).size shouldBe 4
    // the plain path and the URI name the same manifest
    ValidateTableMain.run(spark, schema, in, out) shouldBe first.copy(pendingUnits = 0)
    ValidateTableMain.run(spark, schema, in, s"file://$out").pendingUnits shouldBe 0
    // an outDir the manifest cannot be appended to fails before any batch
    val e = the[IllegalArgumentException] thrownBy ValidateTableMain.run(spark, schema, in, "mem:/graft_out")
    e.getMessage should include("file: URI")
  }

  it should "refuse a path the JVM's file name encoding cannot hold before the first batch" in {
    // a JVM started with no LANG/LC_* has an ASCII file name encoding
    // (sun.jnu.encoding) and gets a non-ASCII argument as U+FFFD; a
    // shell script passes the path's UTF-8 bytes as a user's shell would
    Seq("graft.cli.ValidateTableMain", "graft.cli.ValidateStreamMain").foreach { main =>
      val dir = tmp()
      val schemaFile = Paths.get(dir, "schema.json")
      Files.writeString(schemaFile, graft.compile.Fixtures.flagshipSchema)
      val out = s"$dir/out"
      val script = Paths.get(dir, "run.sh")
      Files.writeString(script, s"""exec "$$@" '$dir/donn\u00e9es_\u00e9/in' '$out'\n""", StandardCharsets.UTF_8)
      val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      val pb = new ProcessBuilder((Seq("sh", script.toString, javaBin) ++ jvmArgs ++
        Seq("-Xmx1g", "-cp", sys.props("java.class.path"), main, schemaFile.toString)).asJava)
      Seq("LANG", "LC_ALL", "LC_CTYPE").foreach(pb.environment().remove)
      val proc = pb.redirectErrorStream(true).start()
      val log = new String(proc.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
      withClue(s"$main: $log") {
        proc.waitFor() should not be 0
        // the path as the ASCII encoding prints it, the encoding and the fix
        log should include regex (java.util.regex.Pattern.quote(s"path $dir/donn") + "\\?+es_\\?+/in cannot be encoded")
        log should include regex "file name encoding [A-Za-z0-9_.-]+; run under a UTF-8 locale \\(e\\.g\\. LANG=C\\.UTF-8\\)"
        Files.exists(Paths.get(out)) shouldBe false
      }
    }
  }

  it should "call every row of a table with no roots an orphan" in {
    val v = runChecked(TranscriptGen.generate(spark, 100, 10).filter(col("turn_idx") =!= 0))
    v.orphanRows shouldBe 900L
    v.duplicateKeys shouldBe 0L
  }

  it should "count many duplicate keys once each" in {
    val t = TranscriptGen.generate(spark, 100, 10)
    val v = runChecked(t.unionByName(t).unionByName(t.filter(col("turn_idx") < 3)))
    v.duplicateKeys shouldBe 1000L
    v.orphanRows shouldBe 0L
  }

  it should "bind key constraints only to non-null key parts" in {
    val t = TranscriptGen.generate(spark, 20, 5)
    val nulled = t.filter(col("conv_id") === "c1")
      .withColumn("conv_id", lit(null).cast("string")) // NULL conv_id, turn_idx 0..4: absent references
      .unionByName(t.filter(col("conv_id") === "c2" && col("turn_idx") === 1)
        .withColumn("turn_idx", lit(null).cast("int"))) // NULL turn_idx in a rooted conversation
      .unionByName(t.filter(col("conv_id") === "c3" && col("turn_idx") > 0)
        .withColumn("conv_id", lit("c99"))) // a rootless conversation
    val keyless = t.filter(col("conv_id") === "c4" && col("turn_idx") === 2)
      .withColumn("turn_idx", lit(null).cast("int")) // NULL turn_idx, no root
      .withColumn("conv_id", lit("c98"))
    val v = runChecked(t.unionByName(nulled).unionByName(nulled).unionByName(keyless).unionByName(keyless))
    // the twice-added NULL-part keys are no duplicates; c99's 8 rows and
    // c98's 2 NULL-turn rows are orphans, the NULL conv_id rows are not
    v.duplicateKeys shouldBe 4L // c99's 4 keys, each twice
    v.orphanRows shouldBe 10L
  }

  it should "handle one hot conversation of 10^5 turns" in {
    val hot = TranscriptGen.generate(spark, 1, 100000)
    val rest = TranscriptGen.generate(spark, 50, 10, TranscriptGen.all).filter(col("conv_id") =!= "c0")
    val v = runChecked(hot.unionByName(rest))
    v.rowViolations should be > (100000L - 4097L)
  }

  it should "take dots and backticks in column names as part of the name" in {
    // an undeclared `meta.src`, a declared `a.b` with a minimum, a
    // declared name holding a backtick with a maxLength
    val hostile = TableSchemaCompiler.compileString("""
      { "type": "object", "properties": {
          "a.b": { "type": "integer", "minimum": 0 },
          "we`ird": { "type": "string", "maxLength": 2 } } }""").toOption.get
    val t = TranscriptGen.generate(spark, 100, 10, TranscriptGen.all)
      .withColumn("meta.src", when(col("turn_idx") % 3 =!= 0, concat(lit("src"), col("turn_idx").cast("string"))))
      .withColumn("a.b", when(col("turn_idx") % 5 =!= 0, col("turn_idx") - 3))
      .withColumn("we`ird", when(col("turn_idx") % 4 =!= 0, substring(col("conv_id"), 1, 3)))
    def tooSmall(r: Row) = Option(r.getAs[Integer]("a.b")).exists(_ < 0)
    def tooLong(r: Row) = Option(r.getAs[String]("we`ird")).exists(_.length > 2)
    val v = runChecked(t, schema.copy(columns = schema.columns ++ hostile.columns),
      r => Seq(tooSmall(r), tooLong(r)).count(identity))
    val rows = t.collect()
    rows.count(tooSmall) should be > 0
    rows.count(tooLong) should be > 0
    v.rowViolations should be > rows.map(FlagshipRecount.rowViolations).sum.toLong
  }
}
