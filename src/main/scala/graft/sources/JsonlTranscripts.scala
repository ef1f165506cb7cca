package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON-lines transcript source — the interchange format agent
  * transcripts actually arrive in before they are compacted to
  * parquet/Iceberg. The reference's `JsonSource` typeclass loads schema
  * DOCUMENTS from JSON addresses
  * (`/root/reference/src/main/scala/json/source/JsonSource.scala:13-56`);
  * this is the data-plane analogue: load transcript ROWS from JSONL
  * with the table schema PINNED (never inferred — a drifted producer
  * cannot silently widen a column type) and malformed lines QUARANTINED
  * as typed rows instead of job failures or silent nulls.
  *
  * Parse semantics: Jackson PERMISSIVE with `columnNameOfCorruptRecord`
  * — a structurally-invalid line, or one whose field cannot bind to the
  * pinned type, yields a row with the offending fields null and the RAW
  * line preserved in `_corrupt`; clean lines carry `_corrupt` null.
  * Callers route `_corrupt IS NOT NULL` rows to the violations sink and
  * feed the rest to the ordinary validator — one pass, no second parse.
  *
  * Scale shape: `spark.read.text` splits files line-wise (JSONL is
  * splittable, unlike multi-line JSON); the parse is a per-row
  * projection — zero shuffles, full pushdown of later column pruning
  * into the text scan.
  *
  * Timestamps round-trip through an explicit microsecond format (the
  * default JSON writer truncates sub-second precision differently
  * across versions — pinning the format makes write→read the identity
  * on micros-resolution data).
  */
object JsonlTranscripts {

  val tsFormat = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** The pinned transcript schema (BASELINE.json input_hint). */
  val schema: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  private val withCorrupt: StructType =
    schema.add(StructField("_corrupt", StringType))

  private val parseOptions = Map(
    "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> "_corrupt",
    "timestampFormat" -> tsFormat)

  /** Parse a dataset of JSONL lines against the pinned schema.
    * Output: the six transcript columns + `_corrupt` (raw line for
    * quarantined rows, null for clean ones).
    */
  def parse(lines: DataFrame): DataFrame = {
    val v = lines.columns.headOption.getOrElse(
      throw new IllegalArgumentException("parse needs a single string column of JSONL lines"))
    lines.select(from_json(col(v), withCorrupt, parseOptions).as("r"))
      .select(col("r.*"))
  }

  /** One JSONL line per row of `df`, as a column expression. Columns
    * are cast to the PINNED schema types first — notably TIMESTAMP_NTZ
    * inputs (the parquet int64 default) would otherwise serialize under
    * Jackson's separate timestampNTZFormat option and fail to rebind on
    * read. The NTZ->LTZ cast is only the identity in a UTC session, so
    * an NTZ input under any other zone fails loud (the
    * retentionCohorts/inferConstraints rule) instead of silently
    * shifting every instant by the zone offset.
    */
  def jsonLine(df: DataFrame): org.apache.spark.sql.Column = {
    val ntz = schema.fieldNames.filter(n =>
      df.schema.find(_.name == n).exists(_.dataType == TimestampNTZType))
    if (ntz.nonEmpty) {
      val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC" || tz == "Etc/UTC" || tz == "GMT",
        s"jsonLine on TIMESTAMP_NTZ ${ntz.mkString(",")} needs " +
          s"spark.sql.session.timeZone=UTC (got $tz): the NTZ->LTZ cast " +
          "would shift every serialized instant by the zone offset")
    }
    to_json(struct(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*),
      Map("timestampFormat" -> tsFormat))
  }

  /** Split a parsed frame into (clean, quarantined). */
  def quarantine(parsed: DataFrame): (DataFrame, DataFrame) =
    (parsed.filter(col("_corrupt").isNull).drop("_corrupt"),
     parsed.filter(col("_corrupt").isNotNull))
}
