package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.compile.{TableSchema, TableSchemaCompiler}
import graft.sources.{BalancedInput, DirtyDerive, TranscriptDerive}

/** One oracle gate: the Spark plan of an operator over a test-data
  * directory, and the DuckDB SQL that replays the same rule over the
  * same tables (the transcripts table is derived from `lineitem` by
  * identical rules on both sides — see [[graft.sources.TranscriptDerive]]).
  */
final case class Gate(name: String, run: (SparkSession, String) => DataFrame, oracle: String)

/** What several gate families share: table readers, the planted pools
  * (each a Spark builder with the CTE that replays it), the derived
  * tables' CTEs and the JSON-pointer SQL.
  */
object Inputs {

  def compileSchema(json: String): TableSchema =
    TableSchemaCompiler.compileString(json)
      .fold(e => throw new IllegalArgumentException(e), identity)

  /** The flagship schema ([[graft.SparkEntry.querySchema]]), compiled. */
  def schema: TableSchema = compileSchema(graft.SparkEntry.querySchema)

  def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  // balanced variants: per-operator opt-in (measured winners only, see
  // OPTIMIZATION_r07.md "scan balancing"); BalancedInput is a no-op on
  // sane file layouts, so these are layout repairs, not local tuning
  def docsBalanced(s: SparkSession, dir: String): DataFrame =
    BalancedInput.parquet(s, s"$dir/documents.parquet")

  def embeddingsBalanced(s: SparkSession, dir: String): DataFrame =
    BalancedInput.parquet(s, s"$dir/embeddings.parquet")

  /** Dedup pool: documents + planted exact dups (+1,000,000) and
    * near-dups (+2,000,000, text suffixed). Same rules in [[poolCte]].
    */
  def dedupPool(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      .unionByName(d.filter(col("doc_id") % 11 === 5)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" qq zz")).as("text")))
  }

  val poolCte: String =
    """pool AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 3
      |  UNION ALL SELECT doc_id + 2000000, text || ' qq zz' FROM documents WHERE doc_id % 11 = 5
      |)""".stripMargin

  /** Embedding pool with planted exact copies (+1,000,000) and perturbed
    * near-copies (+2,000,000). The perturbation weights 17/16 and 15/16
    * are exactly representable dyadics and the multiply runs in double
    * then rounds to float, so BOTH engines produce bit-identical vectors
    * (cos of a perturbed pair lands at ~0.998, far above the 0.95 gate
    * tau; the densest base pair is <= 0.61). Same rules in [[embPoolCte]].
    */
  def embPool(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select("vec_id", "embedding")
    e.unionByName(e.filter(col("vec_id") % 7 === 3)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
      .unionByName(e.filter(col("vec_id") % 11 === 5)
        .select((col("vec_id") + 2000000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i % 2 === 0, (x.cast("double") * lit(1.0625)).cast("float"))
              .otherwise((x.cast("double") * lit(0.9375)).cast("float"))).as("embedding")))
  }

  // DuckDB lambda indices are 1-based (Spark's are 0-based): i % 2 = 1
  // below is the SAME elements as i % 2 === 0 above
  val embPoolCte: String =
    """epool AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 7 = 3
      |  UNION ALL SELECT vec_id + 2000000,
      |    list_transform(embedding, (x, i) -> CASE WHEN i % 2 = 1
      |      THEN CAST(CAST(x AS DOUBLE) * 1.0625 AS FLOAT)
      |      ELSE CAST(CAST(x AS DOUBLE) * 0.9375 AS FLOAT) END)
      |  FROM embeddings WHERE vec_id % 11 = 5
      |)""".stripMargin

  /** Documents + first-token-substituted variants (+3,000,000): the
    * simhash near-miss pool. The variant's hamming distance is a
    * deterministic property of the text and the (replayable) token
    * hash — mostly 0-4, with a long tail — and the oracle REPLAYS the
    * whole simhash computation, so no recall assumption is needed:
    * at maxHamming <= 3 with 4 bands the band join provably finds every
    * qualifying pair (pigeonhole, see [[graft.pipeline.Dedup.simhashPairs]]).
    */
  def simhashNearPool(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") % 5 === 1)
      .select((col("doc_id") + 3000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+", "zq").as("text")))
  }

  val simhashPoolCte: String =
    """spool AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 3000000, regexp_replace(text, '^\S+', 'zq')
      |  FROM documents WHERE doc_id % 5 = 1
      |)""".stripMargin

  val tCte: String = TranscriptDerive.duckdbCteTable

  val dCte: String = DirtyDerive.duckdbCte

  // ---- pointer SQL helper (must mirror ConstraintCompiler.pointerCol) ----
  def ptrSql(column: String): String =
    s"'/' || replace(replace(conv_id,'~','~0'),'/','~1') || '/' || CAST(turn_idx AS VARCHAR) || '/$column'"

  // pointer over (l_orderkey, l_linenumber)-keyed tables
  def kPtr(column: String): String =
    s"'/' || CAST(l_orderkey AS VARCHAR) || '/' || CAST(l_linenumber AS VARCHAR) || '/$column'"
}
