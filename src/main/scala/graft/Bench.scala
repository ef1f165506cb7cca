package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Shared local[N] benchmark session: Bench and BenchOne MUST use the
  * same configuration or BenchOne's focused timings stop being
  * comparable to the gate numbers it exists to bisect.
  */
private[graft] object BenchSession {
  def open(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // benchmark inputs are single small parquet files; split them so
      // all cores engage (at real scale the 128m default is correct)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).count() // JVM/codegen warm-up
    spark
  }
}

/** Per-round benchmark: runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line (driver contract).
  * Also reports flagship validation throughput (turns/sec over the
  * derived transcripts table) as extra keys.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = BenchSession.open(cpus)

    // interleaved fixed-work CPU calibration probe (round-6 verdict
    // item): the sandbox host's throughput fluctuates ~3x between
    // hypervisor windows, invisible in guest loadavg. A fixed-cost
    // single-thread hash loop timed at the start, between query blocks,
    // and at the end ships in the JSON — cross-round comparisons can
    // normalize by (or at least see) the host window instead of
    // forensically re-deriving it from scan-shaped queries.
    def calibProbe(): Double = {
      val t0 = System.nanoTime()
      var acc = 1469598103934665603L // FNV offset basis; fixed work, ~0.2 s nominal
      var i = 0L
      while (i < 200000000L) { acc = (acc ^ i) * 1099511628211L; i += 1 }
      if (acc == 42L) print("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    val calib = scala.collection.mutable.ArrayBuffer(calibProbe())

    // best-of-2 per query: the first run pays JIT/codegen/file-listing;
    // the host VM's throughput also fluctuates (BENCH.md methodology).
    // The per-query spread (max/min of the two runs) ships in the JSON so
    // a host-noise outlier is self-diagnosing instead of needing a replay.
    // a throwing query must NOT enter the timing stats (its fail-fast
    // wall time would masquerade as the suite's fastest query); it is
    // reported by name in an `errors` array instead
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    val attempts = sorted.zipWithIndex.map { case ((name, fn), idx) =>
      if (idx > 0 && idx % 25 == 0) calib += calibProbe()
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
        (ok, (System.nanoTime() - t0) / 1e9)
      }
      (name, times)
    }
    calib += calibProbe()
    val errors = attempts.collect { case (name, ts) if ts.exists(!_._1) => name }
    val results = attempts.collect { case (name, ts) if ts.forall(_._1) =>
      val secs = ts.map(_._2)
      (name, secs.min, secs.max / math.max(secs.min, 1e-9))
    }

    // flagship throughput: validated turns/sec over a MATERIALIZED
    // transcripts table. The lazy fixture derivation (regex/concat over
    // lineitem) is ~85% of an un-cached run's wall time (round-4 probe:
    // derive+validate 3.17 s vs 0.42 s validation on cached input at
    // sf0.1) — timing it would benchmark the fixture generator, not the
    // engine; production reads parquet, as ClusterScalingBench does.
    val transcripts = graft.sources.TranscriptDerive.fromLineitem(spark, sfDir).cache()
    val nTurns = transcripts.count()
    val schema = graft.gates.Inputs.schema
    graft.exprs.Validator.violations(transcripts, schema, Seq("conv_id", "turn_idx")).count() // warm
    val tV0 = System.nanoTime()
    graft.exprs.Validator.violations(transcripts, schema, Seq("conv_id", "turn_idx")).count()
    val vSec = (System.nanoTime() - tV0) / 1e9
    val turnsPerSec = nTurns / vSec
    transcripts.unpersist()

    // the driver records only the last ~2000 chars of the log, so the
    // metric line must be (a) LAST and (b) short enough to fit there
    // whole: per-query secs rounded to 3 decimals, and the diagnostic
    // spread map on its own earlier line (fine if the tail clips it)
    def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f",
      java.lang.Double.valueOf(v)) // Locale.ROOT: a comma decimal separator would break the JSON
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val spreads = results.map { case (k, _, s) =>
      "\"" + k + "\":" + (math.round(s * 100) / 100.0)
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    // calibration summary: per-probe seconds (diagnostic line) plus the
    // min and max/min drift ratio (ships on the metric lines). drift
    // near 1.0 = stable window; >> 1.0 = the host moved mid-run and
    // per-query numbers need the per-probe timeline to adjudicate
    val calibArr = calib.map(r3).mkString("[", ",", "]")
    val calibMin = calib.min
    val calibDrift = calib.max / math.max(calib.min, 1e-9)
    println(s"""{"calib_probes":$calibArr}""")
    println(s"""{"spread":$spreads}""")
    // full per-query map on its own earlier line (fine if the tail clips it)
    println(
      s"""{"metric":"total_full","value":${r3(total)},"unit":"sec","queries":$qs,"errors":$errs,"sf":"${sfDir.replace("\\", "\\\\").replace("\"", "\\\"")}","turns":$nTurns,"validate_sec":${r3(vSec)},"turns_per_sec":${turnsPerSec.round},"calib_sec":${r3(calibMin)},"calib_drift":${(math.round(calibDrift * 100) / 100.0)}}""")
    // The driver keeps only the last ~2000 chars of the log and regex-
    // parses the metric JSON out of that window; sbt appends ~80 chars
    // of "[success] Total time ..." after us. With 60+ queries the full
    // map alone is ~1800 chars, so a full-map line can START outside
    // the window and parse as null (rounds 1-4). The LAST line is a
    // compact variant: same shape, `queries` capped to the most
    // expensive entries under a byte budget, remainder counted in
    // "queries_omitted" (full map is on the line above).
    val byCost = results.sortBy { case (_, v, _) => -v }
      .map { case (k, v, _) => "\"" + k + "\":" + r3(v) }
    val budget = 1100
    val kept = new scala.collection.mutable.ArrayBuffer[String]
    var used = 0
    byCost.foreach { e =>
      if (used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
    }
    val qsCompact = kept.mkString("{", ",", "}")
    val omitted = results.size - kept.size
    println(
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qsCompact,"queries_omitted":$omitted,"errors":$errs,"sf":"${sfDir.replace("\\", "\\\\").replace("\"", "\\\"")}","turns":$nTurns,"validate_sec":${r3(vSec)},"turns_per_sec":${turnsPerSec.round},"calib_sec":${r3(calibMin)},"calib_drift":${(math.round(calibDrift * 100) / 100.0)}}""")
    spark.stop()
  }
}

/** Focused per-query tool for regression bisection on SPARK_GRAFT_SF_DIR:
  *
  *   BenchOne [count|noop|explain <dir>] <query>...
  *
  *  - `count` (default): runs each named SparkEntry query N times
  *    (SPARK_GRAFT_REPS, default 5) through `count()` and prints per-run
  *    seconds — separates a real plan regression from the host's
  *    ~1.2-3x throughput windows (BENCH.md methodology);
  *  - `noop`: the same timing through the noop sink, which computes
  *    every column (`count()` lets the optimizer prune unused ones);
  *  - `explain <dir>`: writes each query's `.explain("formatted")` to
  *    `<dir>/<query>.txt`.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    def fmt(p: String, v: Double) =
      String.format(java.util.Locale.ROOT, p, java.lang.Double.valueOf(v))
    def timed(label: String)(action: DataFrame => Unit)(name: String, df: () => DataFrame): Unit = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        action(df())
        (System.nanoTime() - t0) / 1e9
      }
      println(s"$label $name min=${fmt("%.3f", times.min)} " +
        times.map(t => fmt("%.2f", t)).mkString("[", ",", "]"))
    }
    def explainTo(dir: String)(name: String, df: () => DataFrame): Unit = {
      val plan = df().queryExecution.explainString(ExplainMode.fromString("formatted"))
      val file = new java.io.File(dir, s"$name.txt")
      java.nio.file.Files.writeString(file.toPath, plan + "\n")
      println(s"EXPLAIN $name -> $file (${plan.length} chars)")
    }
    val (run, names) = args.toList match {
      case "explain" :: dir :: qs => new java.io.File(dir).mkdirs(); (explainTo(dir) _, qs)
      case "noop" :: qs => (timed("NOOP")(_.write.format("noop").mode("overwrite").save()) _, qs)
      case "count" :: qs => (timed("BENCHONE")(_.count()) _, qs)
      case qs => (timed("BENCHONE")(_.count()) _, qs)
    }
    val spark = BenchSession.open(cpus)
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      run(name, () => fn(spark, sfDir))
    }
    spark.stop()
  }
}

/** The measurement loop shared by the local-cluster scaling benches:
  * executor classpath resolution, the session recipe, the
  * generate-if-absent input guard and the timing — in ONE place so a
  * fix to any of them (e.g. the stopped-cluster starvation workaround,
  * the relative-classpath bug) cannot silently diverge between the
  * scan-, window- and shuffle-shaped benches.
  */
private[graft] object LocalClusterBench {
  // resolve from this class's own code source so the bench works from
  // any CWD (a relative path gave executors an empty classpath)
  private lazy val classesDir: String = Option(getClass.getProtectionDomain.getCodeSource)
    .map(cs => new java.io.File(cs.getLocation.toURI).getAbsolutePath)
    .getOrElse(new java.io.File("target/scala-2.13/classes").getAbsolutePath)

  def coresPerExec: Int = sys.env.getOrElse("SPARK_GRAFT_EXEC_CORES", "4").toInt
  private def execMemMb: Int = sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM_MB", "8192").toInt

  /** The generated transcripts input the scan- and window-shaped
    * benches share: one row-count-keyed path, one generation rule, so
    * the two never store a byte-identical multi-GB copy each (and a
    * different default size can never silently reuse the other's
    * input through the _SUCCESS check).
    */
  def transcriptsInput: (String, SparkSession => Unit) = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROWS", "32000000").toLong
    val input = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", s"/tmp/graft_scaling_input_$rows")
    (input, gen => graft.sources.TranscriptGen
      .generate(gen, rows / 8, 8, graft.sources.TranscriptGen.all)
      .repartition(128).write.mode("overwrite").parquet(input))
  }

  final case class Measurement(executors: Int, inputRows: Long, result: Long, sec: Double)

  /** One measurement at the executor count in `args`: generate `input`
    * with `write` if absent, open `local-cluster[N,cores,mem]` with
    * `partitionsPerCore` shuffle partitions per core, run `action` once
    * to warm up (codegen + shuffle services; its value is the
    * measurement's `result`), then time it best of 2.
    *
    * One measurement per JVM, and a missing executor count is refused:
    * a stopped local-cluster leaves master state that starves
    * follow-up clusters in the same process, so an all-in-one run would
    * inflate the N=4 time (BENCH.md methodology: one level per JVM,
    * alternate 1/4 pairs, best-of per level).
    */
  def measure(bench: String, args: Array[String], input: String, partitionsPerCore: Int,
              write: SparkSession => Unit)(action: DataFrame => Long): Measurement = {
    val executors = args.headOption.map(_.toInt).getOrElse {
      System.err.println(s"usage: $bench <executors> -- one measurement per JVM; " +
        "alternate `1` and `4` invocations and take best-of per level")
      sys.exit(1)
    }
    // generate with a plain local session, leaving no active/default
    // session behind (a leftover would shadow the local-cluster session)
    if (!new java.io.File(s"$input/_SUCCESS").exists()) {
      val gen = SparkSession.builder().master("local[32]")
        .config("spark.ui.enabled", "false").getOrCreate()
      gen.sparkContext.setLogLevel("WARN")
      write(gen)
      gen.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
    val s = SparkSession.builder()
      .master(s"local-cluster[$executors,$coresPerExec,$execMemMb]")
      .config("spark.executor.extraClassPath", classesDir)
      .config("spark.sql.shuffle.partitions", (executors * coresPerExec * partitionsPerCore).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    try {
      val df = s.read.parquet(input)
      val result = action(df)
      val sec = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        action(df)
        (System.nanoTime() - t0) / 1e9
      }.min
      Measurement(executors, df.count(), result, sec)
    } finally {
      s.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
  }
}

/** Cluster-mode scaling evidence: the same validation job on the same
  * parquet input under `local-cluster[N,cores,mem]` — Spark forks REAL
  * executor JVMs (own heap, own GC, own codegen cache), so N=1 vs N=4
  * executors is the closest in-sandbox analogue of the north_rule's
  * "N and 4N executors" criterion. Prints one JSON line.
  */
object ClusterScalingBench {
  def main(args: Array[String]): Unit = {
    import LocalClusterBench._
    val (input, write) = transcriptsInput
    val schema = graft.gates.Inputs.schema
    val m = measure("ClusterScalingBench", args, input, partitionsPerCore = 1, write) { df =>
      graft.exprs.Validator.violations(df, schema, Seq("conv_id", "turn_idx")).count()
    }
    println(s"""{"metric":"cluster_scaling_single","executors":${m.executors},"cores_per_executor":$coresPerExec,"input_rows":${m.inputRows},"sec":${m.sec},"turns_per_sec":${(m.inputRows / m.sec).round}}""")
  }
}

/** Scaling evidence for the WINDOW+AGG-shaped plan family (round-6
  * verdict item: scan-shaped flagship and shuffle-join plans were
  * measured; the third physical family — one conversation-keyed
  * exchange feeding a partitioned window and a per-key aggregation —
  * was not). Runs [[graft.pipeline.Conversations.convDigest]] (the
  * gated conv_digest plan, verbatim) over the same generated
  * transcripts table as [[ClusterScalingBench]], with the same
  * methodology. The digest count is printed and must match across
  * levels (the value-check that the timed work is the real work).
  */
object WindowScalingBench {
  def main(args: Array[String]): Unit = {
    import LocalClusterBench._
    val (input, write) = transcriptsInput
    val m = measure("WindowScalingBench", args, input, partitionsPerCore = 1, write) { df =>
      graft.pipeline.Conversations.convDigest(df).count()
    }
    println(s"""{"metric":"window_scaling_single","executors":${m.executors},"cores_per_executor":$coresPerExec,"input_rows":${m.inputRows},"convs":${m.result},"sec":${m.sec},"turns_per_sec":${(m.inputRows / m.sec).round}}""")
  }
}

/** Scaling evidence for a SHUFFLE-HEAVY operator (round-5 verdict item:
  * the local-cluster efficiency was measured only on the scan-shaped
  * flagship). Runs MinHash-LSH near-dup pair detection — explode +
  * 24 grouped min-aggs (shuffle 1), capped band self-join (shuffle 2),
  * exact shingle-Jaccard verify — over a deterministic synthetic corpus
  * at N executor JVMs, one cluster per JVM, the same alternating N/4N
  * best-of methodology as [[ClusterScalingBench]].
  *
  * Corpus: ~unique 30-token docs from xxhash64(id, j); 10% of docs form
  * planted near-dup pairs (ids 2m/2m+1 with m%10==0 share 28 of 30
  * tokens, shingle J ≈ 0.76 > 0.5 threshold), so the band join carries
  * real skewless work and the verify stage real pairs — bucket
  * population stays 2, the honest large-corpus shape.
  */
object ShuffleScalingBench {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    import LocalClusterBench._
    val docs = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_DOCS", "2000000").toLong
    val input = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_DIR", s"/tmp/graft_shuffle_input_$docs")

    def corpus(s: SparkSession, n: Long) = {
      val pairBase = expr("id div 2")
      val planted = pairBase % 10 === 0
      // domain-discriminated hashes: a shared token can never collide
      // with any doc's unique tokens (without the tag, doc id=m aliases
      // the pair (2m, 2m+1)'s shared seeds and forms spurious triples)
      val toks = (0 until 30).map { j =>
        val t =
          if (j < 28)
            when(planted, xxhash64(lit("shared"), pairBase, lit(j)))
              .otherwise(xxhash64(lit("uniq"), col("id"), lit(j)))
          else xxhash64(lit("uniq"), col("id"), lit(j))
        concat(lit("t"), t.cast("string"))
      }
      s.range(n).select(col("id").as("doc_id"), concat_ws(" ", toks: _*).as("text"))
    }
    // 2x cores for the join-heavy plan: the band self-join's exchange
    // benefits from finer partitions than the scan-shaped flagship
    val m = measure("ShuffleScalingBench", args, input, partitionsPerCore = 2,
        corpus(_, docs).repartition(128).write.mode("overwrite").parquet(input)) { df =>
      graft.pipeline.Dedup.minhashPairs(df, k = 24, bands = 12, threshold = 0.5).count()
    }
    println(s"""{"metric":"shuffle_scaling_single","executors":${m.executors},"cores_per_executor":$coresPerExec,"input_docs":${m.inputRows},"pairs":${m.result},"sec":${m.sec},"docs_per_sec":${(m.inputRows / m.sec).round}}""")
  }
}
