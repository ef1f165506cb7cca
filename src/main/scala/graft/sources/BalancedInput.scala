package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-adaptive parquet reads (optimization guide §2.5: "one huge
  * unsplittable file … repartition immediately after the read").
  *
  * A parquet ROW GROUP is the atomic unit of a scan: Spark assigns each
  * row group to the byte-range split containing its midpoint, so a file
  * with fewer row groups than the session has cores is scanned by that
  * many tasks no matter how small `spark.sql.files.maxPartitionBytes`
  * is — the extra splits exist but carry no rows. The driver's test
  * fixtures are single-row-group files, which silently made EVERY scan
  * (and all the per-row work fused into it: derivation expressions,
  * validator checks, tokenize-explodes) single-threaded on `local[32]`.
  *
  * [[parquet]] inspects the file footers (driver-side metadata read,
  * cached per path — never a data pass) and round-robin-repartitions
  * right after the read ONLY when the layout under-splits the session:
  * `rowGroups < want` where `want = min(defaultParallelism,
  * rows / MinRowsPerTask)`. The repartition moves the RAW pruned
  * columns — derivations and checks stay downstream of the exchange
  * and run at full parallelism.
  *
  * Scale behavior: a production table has row groups ≥ cores, so the
  * rule is a no-op and the plan is unchanged — this is a layout repair,
  * not a local[32] tuning constant. Tiny dimensions (nation, region)
  * stay single-task via the `rows / MinRowsPerTask` floor. Determinism:
  * round-robin repartition sorts before exchanging (Spark's
  * `sortBeforeRepartition` default) and the parquet input is
  * deterministic, so retries cannot duplicate or lose rows; every
  * downstream operator in this engine is layout-invariant by contract
  * (oracle-gated across scale factors).
  */
object BalancedInput {

  /** Below this many rows per would-be task, extra parallelism is pure
    * scheduling overhead — governs only how many partitions small
    * inputs fan out to, never correctness.
    */
  private val MinRowsPerTask = 256L

  /** (rowGroups, rows) per path — footer metadata, cached for the
    * session (a path's layout does not change mid-run).
    */
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private def footerStats(spark: SparkSession, path: String): (Long, Long) =
    footerCache.computeIfAbsent(path, { p =>
      val conf = spark.sparkContext.hadoopConfiguration
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      val files: Seq[org.apache.hadoop.fs.Path] = {
        val st = fs.getFileStatus(hp)
        if (st.isDirectory)
          fs.listStatus(hp).toSeq.map(_.getPath)
            .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_") &&
              !f.getName.startsWith("."))
        else Seq(hp)
      }
      var groups = 0L
      var rows = 0L
      files.foreach { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          groups += r.getRowGroups.size().toLong
          rows += r.getRecordCount
        } finally r.close()
      }
      (groups, rows)
    })

  /** Read `path`, repairing an under-split layout with a post-read
    * round-robin repartition (no-op whenever the row-group count
    * already feeds every core).
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    val (groups, rows) = footerStats(spark, path)
    val want = math.min(
      spark.sparkContext.defaultParallelism.toLong,
      math.max(1L, rows / MinRowsPerTask)).toInt
    if (groups < want) df.repartition(want) else df
  }
}
