package graft.cli

import org.apache.spark.sql.SparkSession

/** The session every spark-submit main builds: master from
  * `SPARK_MASTER` (default `local[SPARK_GRAFT_CPUS]`), one shuffle
  * partition per core (`SPARK_GRAFT_CPUS`, default 8), AQE with
  * skew-join, UTC session time zone, no UI.
  */
object CliSession {
  def open(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
