package graft.pipeline

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Training-data pipeline operators: LSH candidate generation must find
  * the planted near-duplicates, SimHash must respect hamming bounds,
  * IVF ANN must reach high recall vs the brute-force ground truth, and
  * the multimodal plumbing must round-trip bytes deterministically.
  */
class PipelineSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private type DF = org.apache.spark.sql.DataFrame
  private type Col = org.apache.spark.sql.Column
  private val F = org.apache.spark.sql.functions

  "Dedup.minhashPairs" should "find every planted exact and near duplicate" in {
    val pool = graft.gates.Inputs.dedupPool(spark, sfDir).cache()
    try {
      val pairs = Dedup.minhashPairs(pool, threshold = 0.5).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // planted exact dups: doc_id % 7 == 3 -> (id, id+1000000)
      val exactPlanted = docs.filter(col("doc_id") % 7 === 3)
        .select("doc_id").collect().map(_.getLong(0))
        .map(id => (id, id + 1000000L)).toSet
      // exact dups have jaccard 1.0 -> every one must be found
      exactPlanted.diff(pairs) shouldBe empty
      // planted near dups: doc_id % 11 == 5 -> (id, id+2000000), high jaccard
      val nearPlanted = docs.filter(col("doc_id") % 11 === 5)
        .select("doc_id").collect().map(_.getLong(0))
        .map(id => (id, id + 2000000L)).toSet
      val foundNear = nearPlanted.intersect(pairs)
      foundNear.size.toDouble / nearPlanted.size should be >= 0.8 // LSH recall
    } finally pool.unpersist()
  }

  "Dedup.connectedComponents" should "label components by min id, beyond one hop" in {
    import spark.implicits._
    // two components: a 5-node CHAIN (needs several propagation rounds,
    // diameter 4) and a triangle; plus determinism across runs
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), // chain
      (20L, 21L), (21L, 22L), (20L, 22L) // triangle
    ).toDF("id_a", "id_b")
    def run() = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val comp = run()
    comp shouldBe Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L)
    run() shouldBe comp
  }

  /** (id, component minimum) for every node of `pairs`, by a plain-Scala
    * union-find whose roots are their sets' minima.
    */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  it should "match union-find on packed generated graphs" in {
    // every graph gets its own id block, so one operator call covers all
    // of them; the chains are deeper than the min-label round bound, so
    // the call also runs the large-star/small-star rounds
    val rnd = new scala.util.Random(7)
    def chain(ids: Seq[Long]) = ids.zip(ids.tail)
    def star(ids: Seq[Long]) = ids.tail.map(ids.head -> _)
    def clique(ids: Seq[Long]) = ids.combinations(2).map(p => p(0) -> p(1)).toSeq
    def sparse(ids: Seq[Long]) = Seq.fill(ids.size)(ids(rnd.nextInt(ids.size)) -> ids(rnd.nextInt(ids.size)))
      .filter { case (a, b) => a != b }
    val graphs: Seq[Seq[Long] => Seq[(Long, Long)]] = Seq(
      ids => chain(ids.take(40)),
      ids => chain(rnd.shuffle(ids.take(60))),
      ids => star(rnd.shuffle(ids.take(30))),
      ids => clique(rnd.shuffle(ids.take(6))),
      ids => sparse(ids.take(80)),
      ids => clique(ids.take(5)) ++ chain(ids.slice(5, 30)) ++ star(ids.slice(30, 40)) :+ (ids(4) -> ids(5)),
      ids => chain(ids.take(3)) ++ chain(ids.slice(10, 13)) ++ star(ids.slice(20, 25)))
    val pairs = graphs.zipWithIndex.flatMap { case (g, i) =>
      g((0 until 100).map(j => i * 1000L + j)).flatMap { case (a, b) =>
        // reversed and duplicated pairs: the graph is undirected
        val p = if (rnd.nextBoolean()) Seq(a -> b) else Seq(b -> a)
        if (rnd.nextInt(4) == 0) p ++ p else p
      }
    }
    components(pairs) shouldBe unionFind(pairs)
  }

  it should "give a 120-node chain one component" in {
    // diameter 119: min-label propagation needs one round per hop, so
    // the operator finishes it with the large-star/small-star rounds
    val n = 120
    val got = components((0 until n - 1).map(i => (i.toLong + 500, i.toLong + 501)))
    got.size shouldBe n
    got.values.toSet shouldBe Set(500L) // one component, min id everywhere
  }

  it should "match union-find on the LSH pairs" in {
    val pool = graft.gates.Inputs.dedupPool(spark, sfDir).cache()
    try {
      val pairs = Dedup.minhashPairs(pool, k = 24, bands = 12, threshold = 0.5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      pairs should not be empty
      components(pairs) shouldBe unionFind(pairs)
    } finally pool.unpersist()
  }

  "Dedup.nearDupSurvivors" should "keep exactly one doc per near-dup cluster" in {
    val pool = graft.gates.Inputs.dedupPool(spark, sfDir).cache()
    try {
      val pairs = Dedup.minhashPairs(pool, k = 24, bands = 12, threshold = 0.5)
      val comps = Dedup.connectedComponents(pairs).cache()
      try {
        val survivors = Dedup.nearDupSurvivors(pool, k = 24, bands = 12, threshold = 0.5)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val byComp = comps.collect().map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
        // each cluster contributes exactly its min id
        byComp.foreach { case (c, members) =>
          withClue(s"component $c: ") {
            members.intersect(survivors) shouldBe Set(members.min)
          }
        }
        // unpaired docs all pass through
        val paired = byComp.values.flatten.toSet
        val all = pool.select("doc_id").collect().map(_.getLong(0)).toSet
        survivors shouldBe all.diff(paired) ++ byComp.values.map(_.min)
      } finally comps.unpersist()
    } finally pool.unpersist()
  }

  "Dedup.nearDupSurvivorsBy" should "keep the best-scoring member per cluster" in {
    val pool = graft.gates.Inputs.dedupPool(spark, sfDir).cache()
    try {
      val comps = Dedup.connectedComponents(
        Dedup.minhashPairs(pool, k = 24, bands = 12, threshold = 0.5)).cache()
      try {
        val survivors = Dedup.nearDupSurvivorsBy(pool,
            org.apache.spark.sql.functions.length(col("text")),
            k = 24, bands = 12, threshold = 0.5)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val len = pool.select(col("doc_id"), org.apache.spark.sql.functions.length(col("text")))
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        val byComp = comps.collect().map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
        var flipped = 0
        byComp.foreach { case (c, members) =>
          val best = members.toSeq.sortBy(id => (-len(id), id)).head
          withClue(s"component $c: ")(members.intersect(survivors) shouldBe Set(best))
          if (best != members.min) flipped += 1
        }
        // the policy genuinely differs from min-id on this pool (the
        // 'qq zz' near-copies are longer than their bases)
        flipped should be > 0
        val paired = byComp.values.flatten.toSet
        val all = pool.select("doc_id").collect().map(_.getLong(0)).toSet
        survivors.diff(paired) shouldBe all.diff(paired) // unpaired pass through
      } finally comps.unpersist()
    } finally pool.unpersist()
  }

  "Sampling" should "be a pure function of (key, salt): partition-layout invariant, monotone, on-rate" in {
    import spark.implicits._
    val keys = (0L until 20000L).toDF("k")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("k").collect().map(_.getLong(0)).toSet
    def sample(df: org.apache.spark.sql.DataFrame, rate: Double, salt: String = "") =
      Sampling.hashSampleMd5(df, rate, "k", salt)
    val s30 = ids(sample(keys, 0.3))
    // partition layout must not change membership
    ids(sample(keys.repartition(7), 0.3)) shouldBe s30
    // nested rates are monotone under the same salt
    ids(sample(keys, 0.1)).subsetOf(s30) shouldBe true
    // observed rate close to target (20k keys, ~3 sigma)
    s30.size.toDouble / 20000 shouldBe 0.3 +- 0.01
    // a different salt draws a different (but same-rate) sample
    ids(sample(keys, 0.3, "other")) should not be s30
  }

  it should "hold per-stratum rates and the default for unlisted strata" in {
    import spark.implicits._
    val rows = (0L until 30000L).map(i => (i, s"s${i % 3}")).toDF("k", "g")
    val got = Sampling.stratifiedSampleMd5(rows, "k", "g",
      Map("s0" -> 0.5, "s1" -> 0.1), defaultRate = 0.02)
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got("s0").toDouble / 10000 shouldBe 0.5 +- 0.02
    got("s1").toDouble / 10000 shouldBe 0.1 +- 0.02
    got.getOrElse("s2", 0L).toDouble / 10000 shouldBe 0.02 +- 0.01
  }

  "Dedup.shingles" should "match a slow reference implementation for n in {1,2,3,5}" in {
    import spark.implicits._
    def slowShingles(text: String, n: Int): Seq[String] = {
      val toks = text.trim.toLowerCase.split("\\s+").toSeq
      if (toks.size < n) Seq(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSeq
    }
    val texts = Seq(
      "", "one", "one two", "one two three",
      "a b c d e f g", "  padded   whitespace  text here ",
      "MiXeD Case TOKENS again and again and again")
    val df = texts.toDF("text")
    for (n <- Seq(1, 2, 3, 5)) {
      val got = df.select(col("text"), Dedup.shingles(col("text"), n).as("sh"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
      texts.foreach { t =>
        withClue(s"n=$n text='$t': ")(got(t) shouldBe slowShingles(t, n))
      }
    }
  }

  it should "report jaccard 1.0 for exact duplicates" in {
    val pool = graft.gates.Inputs.dedupPool(spark, sfDir)
    val exact = Dedup.minhashPairs(pool, threshold = 0.5)
      .filter(col("id_a") < 1000000L && col("id_b") - col("id_a") === 1000000L)
    exact.collect().map(_.getDouble(2)).foreach(_ shouldBe 1.0)
  }

  it should "run end-to-end at a non-default shingle size" in {
    val pool = graft.gates.Inputs.dedupPool(spark, sfDir)
    // exact duplicates have jaccard 1.0 at ANY n, so the planted pair set
    // must survive a bigram pipeline too
    val pairs = Dedup.minhashPairs(pool, threshold = 0.5, shingleN = 2)
      .filter(col("id_a") < 1000000L && col("id_b") - col("id_a") === 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPlanted = docs.filter(col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + 1000000L)).toSet
    exactPlanted.diff(pairs) shouldBe empty
  }

  /** The column formulation `Dedup.shingles` had before the word-gram
    * kernel, kept verbatim as the reference it must equal (`size` is
    * Spark's, named through `F`: the matchers' `size` shadows it here).
    */
  private def refShingles(textCol: org.apache.spark.sql.Column, n: Int = 3): org.apache.spark.sql.Column = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    val toks = split(trim(lower(textCol)), "\\s+")
    val grams = (1 until n).foldLeft(toks) { (acc, i) =>
      val shifted = slice(toks, lit(i + 1), greatest(F.size(toks) - i, lit(0)))
      zip_with(acc, shifted, (a, b) =>
        when(a.isNull || b.isNull, lit(null)).otherwise(concat(a, lit(" "), b)))
    }
    when(F.size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(filter(grams, g => g.isNotNull))
  }

  /** The explode + k-way `min(xxhash64)` aggregation `Dedup.minhashSigTable`
    * had before the signature kernel, kept verbatim as the reference.
    */
  private def refSigTable(df: org.apache.spark.sql.DataFrame, textCol: String, idCol: String, k: Int,
                          shingleN: Int = 3): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("id"), explode(refShingles(col(textCol), shingleN)).as("s"))
      .groupBy("id")
      .agg(
        min(xxhash64(col("s"), lit(0))).as("m0"),
        (1 until k).map(seed => min(xxhash64(col("s"), lit(seed))).as(s"m$seed")): _*)

  /** The dedup pool plus edge texts: NULL, empty, a leading tab, CR/LF,
    * U+0085 and U+2028 (not whitespace to `\s`), 4-byte characters, and
    * letters whose case mapping changes their length or is titlecase.
    * Read through `localCheckpoint` so the kernels run in generated code.
    */
  private def kernelInputs = {
    import spark.implicits._
    val edges = Seq[(Long, String)](
      (-1L, null), (-2L, ""), (-3L, "\tleading tab then words"), (-4L, "cr\rand\r\nlf\nlines here"),
      (-5L, "next\u0085line and\u2028separator"), (-6L, "\uD834\uDD1E clef \uD83D\uDE00 smile \uD834\uDD1E"),
      (-7L, "\u0130stanbul \u01C5 stra\u00DFe \u0130 \u01C5 \u00DF"), (-8L, "   "), (-9L, "one"),
      (-10L, " \t\n "), (-11L, "A b A b A b A b"))
      .toDF("doc_id", "text")
    graft.gates.Inputs.dedupPool(spark, sfDir).unionByName(edges).localCheckpoint()
  }

  private def sameRows(got: org.apache.spark.sql.DataFrame, ref: org.apache.spark.sql.DataFrame): Unit = {
    got.exceptAll(ref).count() shouldBe 0
    ref.exceptAll(got).count() shouldBe 0
  }

  "Dedup.shingles and Dedup.minhashSigTable" should "equal the zip_with shingles they replace, on the pool and edge texts" in {
    val in = kernelInputs
    try for (n <- Seq(1, 2, 3, 5)) withClue(s"n=$n: ") {
      val got = in.select(col("doc_id"), Dedup.shingles(col("text"), n).as("sh"))
      got.queryExecution.executedPlan.toString should include("*(")
      sameRows(got, in.select(col("doc_id"), refShingles(col("text"), n).as("sh")))
    } finally org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(in)
  }

  it should "equal the explode + min(xxhash64) signature table they replace" in {
    val in = kernelInputs
    try for (n <- Seq(1, 2, 3, 5); k <- Seq(1, 24)) withClue(s"n=$n k=$k: ") {
      val got = Dedup.minhashSigTable(in, "text", "doc_id", k, n)
      got.columns.toSeq shouldBe "id" +: (0 until k).map(i => s"m$i")
      sameRows(got, refSigTable(in, "text", "doc_id", k, n))
    } finally org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(in)
  }

  // ---- the lambda formulations the operators had before their kernels,
  // kept verbatim as the references the operators must equal ----

  /** The sf0.001 documents plus edge texts: NULL, empty, whitespace-only,
    * a leading tab, a leading newline, one token and two tokens. Read
    * through `localCheckpoint` so the operators run in generated code.
    */
  private def opDocs: DF = {
    import spark.implicits._
    val edges = Seq[(Long, String)]((-1L, null), (-2L, ""), (-3L, " \t\n "),
      (-4L, "\tleading tab then words"), (-5L, "\nleading newline\nthen words"),
      (-6L, "one"), (-7L, "two tokens")).toDF("doc_id", "text")
    docs.select("doc_id", "text").unionByName(edges).localCheckpoint()
  }

  /** The sf0.001 transcripts plus two conversations of the edge texts. */
  private def opTranscripts: DF = {
    import spark.implicits._
    val t = graft.sources.TranscriptDerive.fromLineitem(spark, sfDir)
    val texts = Seq[String](null, "", " \t\n ", "\tleading tab", "\nleading newline", "one", "two tokens")
    val edges = texts.zipWithIndex.toDF("text", "i").select(
      concat(lit("e"), (col("i") % 2).cast("string")).as("conv_id"),
      col("i").cast(t.schema("turn_idx").dataType).as("turn_idx"),
      when(col("i") % 3 === 1, lit("zz_new")).when(col("i") % 3 === 2, lit("aa_new")).as("role"), col("text"),
      lit("Mid-Tool").as("tool"), lit(null).cast(t.schema("ts").dataType).as("ts"))
    t.unionByName(edges).localCheckpoint()
  }

  /** `normalizedTokens` before `array_remove`. */
  private def refTokens(textCol: String): Col =
    filter(split(trim(lower(col(textCol))), "\\s+"), t => t =!= "")

  /** `adjacentPairs`, the zip_with pair rule of the token-pair operators. */
  private def refPairs(toks: Col)(combine: (Col, Col) => Col): Col =
    filter(
      zip_with(toks, slice(toks, lit(2), greatest(F.size(toks) - 1, lit(0))),
        (a, b) => when(a.isNull || b.isNull, lit(null)).otherwise(combine(a, b))),
      p => p.isNotNull)

  /** `reassembleInOrder` before `sort_array(...).getField`. */
  private def refReassemble(docs: DF, kept: DF, pieceCol: String, sep: String): DF =
    docs.select(col("doc_id"))
      .join(
        kept.groupBy(col("doc_id"))
          .agg(array_join(
            transform(array_sort(collect_list(struct(col("pos"), col(pieceCol)))),
              x => x.getField(pieceCol)), sep).as("text")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))

  /** `Dedup.spanGrams` before `WordGrams`. */
  private def refSpanGrams(docs: DF, n: Int): DF = {
    val toks = split(trim(col("text")), "\\s+")
    val grams = when(F.size(toks) >= n,
      transform(sequence(lit(0), F.size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    docs.select(col("doc_id"), posexplode(grams).as(Seq("start", "gram")))
  }

  private def refDupSpans(docs: DF, n: Int): DF =
    refSpanGrams(docs, n).groupBy("gram").agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)

  "TextOps.tokenPairCounts" should "equal its zip_with formulation on the documents and edge texts" in {
    val in = opDocs
    val ref = in.select(explode(refPairs(refTokens("text"))((a, b) => concat(a, lit(" "), b))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc).limit(100000)
    sameRows(TextOps.tokenPairCounts(in, topN = 100000), ref)
  }

  "TextOps.pmiCollocations" should "equal its zip_with formulation on the documents and edge texts" in {
    val in = opDocs
    val uni = in.select(explode(refTokens("text")).as("t")).groupBy("t").agg(count(lit(1)).as("c1"))
    val total = uni.agg(sum(col("c1")).cast("double").as("__t"))
    val bi = in.select(explode(refPairs(refTokens("text"))((a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .select(col("p.l").as("l"), col("p.r").as("r"))
      .groupBy("l", "r").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
    val ref = bi.join(uni.select(col("t").as("l"), col("c1").as("cl")), "l")
      .join(uni.select(col("t").as("r"), col("c1").as("cr")), "r")
      .crossJoin(broadcast(total))
      .select(col("l"), col("r"), col("n"),
        round(log(col("n").cast("double") * col("__t") /
          (col("cl").cast("double") * col("cr").cast("double"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("l").asc, col("r").asc)
      .limit(100000)
    sameRows(TextOps.pmiCollocations(in, topN = 100000, minCount = 2), ref)
  }

  "TextOps.bigramLogProb" should "equal its zip_with formulation on the documents and edge texts" in {
    val in = opDocs
    val g = in.select(col("doc_id"),
        explode(refPairs(refTokens("text"))((a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .select(col("doc_id"), col("p.l").as("l"), col("p.r").as("r"))
      .groupBy(col("doc_id"), col("l"), col("r")).agg(count(lit(1)).as("c"))
    val bi = g.groupBy("l", "r").agg(sum(col("c")).as("cb"))
    val lt = bi.groupBy("l").agg(sum(col("cb")).as("cl"))
    val rt = bi.groupBy("r").agg(count(lit(1)).as("cr"))
    val tot = bi.agg(count(lit(1)).cast("double").as("__tt"))
    val ref = g.join(bi, Seq("l", "r")).join(lt, "l").join(rt, "r")
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(round(
        sum(col("c").cast("double") *
          log(lit(0.8) * (col("cb").cast("double") / col("cl")) +
            lit(0.2) * (col("cr").cast("double") / col("__tt"))))
          / sum(col("c")).cast("double"), 6).as("bigram_logprob"))
    sameRows(TextOps.bigramLogProb(in, lambda = 0.8), ref)
  }

  "TextOps.bm25" should "equal its filter-lambda tokenization on the documents and edge texts" in {
    // bm25Multi scores through the same bm25TermScores, and its own case
    // pins it to the single-query form
    val in = opDocs
    val terms = Seq("merge", "window", "one", "two", "leading")
    val base = in.select(col("doc_id"), refTokens("text").as("__toks"))
    val stats = base.agg(count(lit(1)).cast("double").as("__n"), avg(F.size(col("__toks"))).as("__avgdl"))
    val tf = base
      .select(col("doc_id"), F.size(col("__toks")).as("dl"), explode(col("__toks")).as("t"))
      .filter(col("t").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("t")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val (k1, b) = (1.2, 0.75)
    val ref = tf.join(broadcast(dfreq), "t")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("t"), (log(lit(1.0) +
          (col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))))
        .as("s"))
      .groupBy(col("doc_id")).agg(round(sum(col("s")), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(100000)
    sameRows(TextOps.bm25(in, terms, topN = 100000), ref)
  }

  "TextOps.bpeMergesBatchedWithRounds" should "equal its zip_with pair census on the documents and edge texts" in {
    import spark.implicits._
    val in = opDocs
    // the batched trainer's loop with the zip_with pair census
    def ref(numMerges: Int, batch: Int): DF = {
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      var census = in.select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("n"))
        .select(concat(lit(" "), array_join(split(col("w"), ""), "  "), lit("  </w> ")).as("sym"), col("n"))
        .localCheckpoint()
      var exhausted = false
      while (merges.length < numMerges && !exhausted) {
        val m = math.min(batch, numMerges - merges.length)
        val ts = split(trim(col("sym")), "  ")
        val ranked = census
          .select(col("n"), explode(zip_with(
            slice(ts, lit(1), F.size(ts) - 1), slice(ts, lit(2), F.size(ts) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("pr"))
          .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
          .agg(sum(col("n")).as("cnt"))
          .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
          .limit(8 * batch).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        if (ranked.isEmpty) exhausted = true
        else {
          val used = scala.collection.mutable.Set.empty[String]
          val accepted = ranked.foldLeft(Vector.empty[(String, String, Long)]) {
            case (acc, (l, r, c)) if acc.length < m && !used(l) && !used(r) =>
              used += l; used += r; acc :+ ((l, r, c))
            case (acc, _) => acc
          }
          accepted.foreach { case (l, r, c) => merges += ((merges.length.toLong, l, r, c)) }
          census = census.withColumn("sym", accepted.foldLeft(col("sym")) { case (s, (l, r, _)) =>
            replace(s, lit(s" $l  $r "), lit(s" $l$r "))
          }).localCheckpoint()
        }
      }
      merges.toSeq.toDF("step", "left_sym", "right_sym", "pair_count")
    }
    for ((numMerges, batch) <- Seq((8, 4), (12, 3))) withClue(s"$numMerges/$batch: ")(
      sameRows(TextOps.bpeMergesBatchedWithRounds(in, numMerges, batch)._1, ref(numMerges, batch)))
  }

  "Dedup.dupSpans and Dedup.removeDupSpans" should "equal their transform span grams on the documents and edge texts" in {
    val in = opDocs
    for (n <- Seq(2, 3)) withClue(s"n=$n: ") {
      sameRows(Dedup.dupSpans(in, n), refDupSpans(in, n))
      val covered = refSpanGrams(in, n).join(refDupSpans(in, n).select("gram"), "gram")
        .select(col("doc_id"), explode(sequence(col("start"), col("start") + lit(n - 1))).as("pos"))
        .distinct()
      val toks = in.select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "tok")))
      sameRows(Dedup.removeDupSpans(in, n),
        refReassemble(in, toks.join(covered, Seq("doc_id", "pos"), "left_anti"), "tok", " "))
    }
  }

  "TextOps.removeBoilerplate" should "equal its array_sort/transform reassembly on the documents and edge texts" in {
    val raw = opDocs
    // the boilerplate_removal gate's staging (a shared header, a footer
    // per doc_id % 7) plus the raw edge texts
    val in = raw.select(col("doc_id"),
        concat_ws("\n", lit("=== COMMON HEADER ==="), coalesce(col("text"), lit("")),
          concat(lit("footer "), (col("doc_id") % 7).cast("string"))).as("text"))
      .unionByName(raw.filter(col("doc_id") < 0).select((col("doc_id") - 100).as("doc_id"), col("text")))
    val lines = in.select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
    val hot = TextOps.boilerplateLines(in, 25).select("line")
    sameRows(TextOps.removeBoilerplate(in, 25),
      refReassemble(in, lines.join(hot, Seq("line"), "left_anti"), "line", "\n"))
  }

  "Conversations.convDigest" should "equal its array_sort/transform digest on the transcripts and edge texts" in {
    val in = opTranscripts
    val w = org.apache.spark.sql.expressions.Window.partitionBy("conv_id").orderBy(
      col("turn_idx").asc_nulls_first, col("ts").asc_nulls_first,
      col("role").asc_nulls_first, col("text").asc_nulls_first)
    val ref = in.select(col("conv_id"), row_number().over(w).as("__rn"),
        coalesce(col("text"), lit("<null>")).as("__text"))
      .groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_turns"),
        md5(concat_ws("\u0001",
          transform(array_sort(collect_list(struct(col("__rn"), col("__text")))),
            t => t.getField("__text")))).as("digest"))
    sameRows(Conversations.convDigest(in), ref)
  }

  "Ann.kmeansCentroids" should "equal its array_sort/transform centroid assembly" in {
    val in = embeddings.localCheckpoint()
    var ref = in.select(col("vec_id"), col("embedding")).orderBy(col("vec_id")).limit(8)
      .localCheckpoint()
    for (_ <- 1 to 4) {
      val means = Ann.assignToCentroids(in, ref)
        .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("centroid_id", "pos")
        .agg(avg(col("v")).as("m"))
      ref = means.groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("centroid_id").as("vec_id"),
          transform(col("pm"), p => p.getField("m").cast("float")).as("embedding"))
        .localCheckpoint()
    }
    sameRows(Ann.kmeansCentroids(in, k = 8, iters = 4), ref)
  }

  "graft.stats.Drift" should "equal its array_sort histogram and aggregate totals, through kl, psi and jsd" in {
    import graft.stats.Drift
    val in = opTranscripts
    val half = substring(col("conv_id"), 2, 30).cast("long") % 2
    val current = when(half === 0, true).when(half === 1, false)
    for (bucket <- Seq(Drift.categoricalBucket(col("role")), Drift.textLengthBucket(col("text")))) {
      val ref = in.groupBy(bucket.as("bucket"))
        .agg(
          sum(when(current, 1L).otherwise(0L)).as("pc"),
          sum(when(!current, 1L).otherwise(0L)).as("qc"))
        .agg(array_sort(collect_list(struct(col("bucket"), col("pc"), col("qc")))).as("h"))
        .select(col("h"),
          aggregate(col("h"), lit(0L), (a, x) => a + x.getField("pc")).as("pt"),
          aggregate(col("h"), lit(0L), (a, x) => a + x.getField("qc")).as("qt"))
      def divergences(h: DF) = h.select(col("h"), col("pt"), col("qt"), Drift.kl.as("kl"),
        Drift.psi.as("psi"), Drift.jsd.as("jsd"))
      sameRows(divergences(Drift.histogram(in, bucket, current)), divergences(ref))
    }
  }

  "graft.stats.SchemaInfer.constraintDrift" should "equal its array_sort new-enum rule" in {
    import graft.stats.SchemaInfer
    val in = opTranscripts
    val half = substring(col("conv_id"), 2, 30).cast("long") % 2
    // the edge conversations (new role and tool values) join the current side only
    val edge = col("conv_id").startsWith("e")
    val (base, cur) = (in.filter(half === 0 && !edge), in.filter(half === 1 || edge))
    def side(df: DF, p: String) = SchemaInfer.inferConstraints(df, 16)
      .select(col("column"), col("json_type").as(s"${p}_type"), col("enum_vals").as(s"${p}_enum"))
    val newEnum = array_join(array_sort(array_except(
      split(col("c_enum"), SchemaInfer.EnumSep), split(col("b_enum"), SchemaInfer.EnumSep))), SchemaInfer.EnumSep)
    val ref = side(base, "b").join(side(cur, "c"), Seq("column"), "full_outer")
      .select(col("column"), when(col("b_type").isNotNull && col("c_type").isNotNull &&
        col("b_enum").isNotNull && col("c_enum").isNotNull && newEnum =!= "", newEnum).as("new_enum_vals"))
    val got = SchemaInfer.constraintDrift(base, cur).select("column", "new_enum_vals")
    got.filter(col("new_enum_vals").isNotNull).count() should be > 0L
    sameRows(got, ref)
  }

  "Dedup.simhashPairs" should "find exact duplicates at hamming 0 and respect the bound" in {
    val pool = graft.gates.Inputs.dedupPool(spark, sfDir)
    val pairs = Dedup.simhashPairs(pool, maxHamming = 3).collect()
    val byPair = pairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Int]("hamming")).toMap
    val exactPlanted = docs.filter(col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + 1000000L))
    exactPlanted.foreach { p => byPair.get(p) shouldBe Some(0) }
    all(pairs.map(_.getAs[Int]("hamming"))) should be <= 3
  }

  "Dedup.simhashTableMd5" should "be token-order invariant and text-sensitive like the xxhash form" in {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"), // permutation -> identical signature
      (3L, "alpha beta gamma delta"), // exact copy -> identical signature
      (4L, "completely different words here")
    ).toDF("doc_id", "text")
    val sig = Dedup.simhashTableMd5(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sig(2L) shouldBe sig(1L)
    sig(3L) shouldBe sig(1L)
    sig(4L) should not be sig(1L)
    // the banded pair path over the md5 signatures finds the hamming-0 group
    val pairs = Dedup.simhashPairsFromSig(
        Dedup.simhashTableMd5(df, "text", "doc_id"), maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((1L, 2L), (1L, 3L), (2L, 3L))
  }

  "Dedup.minhashPairsDeduped" should "expand back to exactly the plain LSH pair set" in {
    val pool = graft.gates.Inputs.dedupPool(spark, sfDir).cache()
    try {
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e6) / 1e6)).toSet
      val direct = norm(Dedup.minhashPairs(pool, k = 24, bands = 12, threshold = 0.5))
      val (repPairs, members) =
        Dedup.minhashPairsDeduped(pool, k = 24, bands = 12, threshold = 0.5)
      val m1 = members.select(col("keep_id").as("id_a"), col("doc_id").as("mem_a"))
      val m2 = members.select(col("keep_id").as("id_b"), col("doc_id").as("mem_b"))
      val cross = repPairs.join(m1, "id_a").join(m2, "id_b")
        .select(least(col("mem_a"), col("mem_b")).as("id_a"),
          greatest(col("mem_a"), col("mem_b")).as("id_b"), col("jaccard"))
      val within = members.select(col("keep_id"), col("doc_id").as("a"))
        .join(members.select(col("keep_id"), col("doc_id").as("b")), "keep_id")
        .filter(col("a") < col("b"))
        .select(col("a").as("id_a"), col("b").as("id_b"), lit(1.0).as("jaccard"))
      norm(cross.unionByName(within)) shouldBe direct
    } finally pool.unpersist()
  }

  "the LSH hot-bucket guard" should "skip oversized buckets instead of going quadratic" in {
    import spark.implicits._
    // 10k byte-identical docs + 2 planted near-dups: without the cap the
    // identical docs form a ~5*10^7-pair self-join in EVERY band
    val clones = spark.range(0, 10000)
      .select(col("id").as("doc_id"), lit("the same document text repeated verbatim").as("text"))
    // identical pair => guaranteed bucket collision for both algorithms;
    // 20003 is a one-token near-dup of them (shingle Jaccard 5/7)
    val distinctDocs = Seq(
      (20001L, "alpha beta gamma delta epsilon zeta eta theta"),
      (20002L, "alpha beta gamma delta epsilon zeta eta theta"),
      (20003L, "alpha beta gamma delta epsilon zeta eta iota")
    ).toDF("doc_id", "text")
    val pool = clones.unionByName(distinctDocs)

    // one-row bands: deterministic recall for the J=5/7 near-dup pairs
    val capped = Dedup.minhashPairs(pool, k = 16, bands = 16, threshold = 0.5,
      maxBucket = 100).collect()
    // the clone mega-bucket was skipped entirely; planted pairs survive
    capped.map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((20001L, 20002L), (20001L, 20003L), (20002L, 20003L))
    // same policy on the simhash side (only the identical pair is a
    // guaranteed hamming<=3 match)
    val simCapped = Dedup.simhashPairs(pool, maxHamming = 0, maxBucket = 100).collect()
    simCapped.map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((20001L, 20002L))

    // dedup-first composition: clones collapse to ONE representative, so
    // LSH sees no mega-bucket; the near-dup pair is found between reps
    val (repPairs, members) = Dedup.minhashPairsDeduped(pool, k = 16, bands = 16,
      threshold = 0.5, maxBucket = 100)
    repPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((20001L, 20003L))
    // member map expands a representative back to its whole group
    val m = members.collect().map(r => r.getLong(0) -> r.getLong(1))
    m.length shouldBe 10003
    m.map(_._2).distinct.sorted shouldBe Array(0L, 20001L, 20003L)
    m.toMap.apply(20002L) shouldBe 20001L
  }

  "Ann.ivfTopK" should "trade recall for probes monotonically vs brute force" in {
    val q = embeddings.filter(col("vec_id") < 8)
    val c = embeddings.filter(col("vec_id") >= 8)
    val cents = embeddings.filter(col("vec_id") % 97 === 0)
    val brute = Ann.bruteForceTopK(q, c, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nprobe: Int): Double = {
      val ivf = Ann.ivfTopK(q, c, cents, 10, nprobe = nprobe).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      ivf.intersect(brute).size.toDouble / brute.size
    }
    val r2 = recall(2); val r4 = recall(4); val r6 = recall(6)
    r4 should be >= r2  // more probes -> more recall
    r4 should be >= 0.6 // random-ish vectors: 4 of 6 buckets covers most
    r6 shouldBe 1.0     // probing all buckets == brute force
  }

  "Ann.srpNearDupPairs" should "find exact-copy pairs with certainty and never report false positives" in {
    import spark.implicits._
    // plant exact copies: identical vectors => identical sign bits =>
    // guaranteed bucket collision in every band, cosine exactly 1.0
    val e = embeddings
    val pool = e.select(col("vec_id"), col("embedding"))
      .unionByName(e.filter(col("vec_id") % 9 === 4)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
    val srp = Ann.srpNearDupPairs(pool, tau = 0.95, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val planted = e.filter(col("vec_id") % 9 === 4).select("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(0) + 10000)).toSet
    srp.map(t => (t._1, t._2)).toSet shouldBe planted // nothing natural reaches 0.95
    all(srp.map(_._3)) shouldBe 1.0
  }

  it should "be a subset of the exact brute force at any tau" in {
    val bf = Ann.cosineNearDupPairs(embeddings, tau = 0.30)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val srp = Ann.srpNearDupPairs(embeddings, tau = 0.30, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    srp.subsetOf(bf) shouldBe true // exact verify: precision is 1 by construction
  }

  "Ann.kmeansCentroids" should "train centroids that tighten clusters and serve IVF" in {
    val vecs = embeddings.filter(col("vec_id") >= 8).cache()
    try {
      def avgBestCos(cents: org.apache.spark.sql.DataFrame): Double =
        Ann.assignToCentroids(vecs, cents)
          .join(cents.select(col("vec_id").as("centroid_id"), col("embedding").as("ce")),
            "centroid_id")
          .select(try_divide(Ann.dot(col("embedding"), col("ce")),
            Ann.l2Norm(col("embedding")) * Ann.l2Norm(col("ce"))).as("c"))
          .agg(avg("c")).collect()(0).getDouble(0)
      val init = vecs.orderBy("vec_id").limit(8)
      val trained = Ann.kmeansCentroids(vecs, k = 8, iters = 4).cache()
      try {
        val n = trained.count()
        n should be > 0L
        n should be <= 8L
        // Lloyd's iterations must not make the assignment looser
        avgBestCos(trained) should be >= avgBestCos(init) - 1e-9
        // deterministic: same input + init -> identical centroids
        val again = Ann.kmeansCentroids(vecs, k = 8, iters = 4)
          .collect().map(_.toString).sorted
        trained.collect().map(_.toString).sorted shouldBe again
        // end-to-end: the trained table drives ivfTopK
        val q = embeddings.filter(col("vec_id") < 8)
        val ivf = Ann.ivfTopK(q, vecs, trained, k = 10, nprobe = 3)
        ivf.count() shouldBe 80
      } finally trained.unpersist()
    } finally vecs.unpersist()
  }

  it should "find every planted near-copy's base at rank 1 through the trained index" in {
    // the trained production composition (train -> assign -> probe ->
    // score -> rank) with planted ground truth: each +2M query is a
    // perturbed copy of its base (cos ~0.998 vs densest base pair
    // 0.605), so the true top-1 is known without brute force
    val e = embeddings
    val q = graft.gates.Inputs.embPool(spark, sfDir).filter(col("vec_id") >= 2000000)
    val cents = Ann.kmeansCentroids(e, k = 8, iters = 4)
    val ivf = Ann.ivfTopK(q, e, cents, k = 10, nprobe = 3)
    val nq = q.count()
    nq should be > 0L
    ivf.filter(col("cand_id") === col("query_id") - 2000000 && col("rank") === 1)
      .count() shouldBe nq
  }

  "Ann.quantizeInt8" should "round-trip within scale/2 and preserve cosine closely" in {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(0.5f, -1.0f, 2.0f, 0.0f)),
      (2L, Seq(-127.0f, 127.0f, 63.5f, 0.25f)),
      (3L, Seq(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector: scale 0, all-zero codes
      (4L, Seq(1e-8f, -1e-8f, 1e-8f, 0f))).toDF("vec_id", "embedding")
    val q = Ann.quantizeInt8(vecs)
    val rows = vecs.join(q, "vec_id")
      .select(col("vec_id"), col("embedding"), col("scale"), Ann.dequantizeInt8().as("deq"))
      .collect()
    rows.foreach { r =>
      val orig = r.getSeq[Float](1); val s = r.getFloat(2); val deq = r.getSeq[Float](3)
      deq.length shouldBe orig.length
      orig.zip(deq).foreach { case (a, b) =>
        math.abs(a - b) should be <= (s / 2 + 1e-6f)
      }
    }
    // zero vector: scale exactly 0, dequantizes to zeros
    val z = rows.find(_.getLong(0) == 3L).get
    z.getFloat(2) shouldBe 0.0f
    z.getSeq[Float](3).forall(_ == 0.0f) shouldBe true
    // on real embeddings, quantized cosine keeps most top-5 neighbors
    val e = embeddings
    val deqTable = e.join(Ann.quantizeInt8(e), "vec_id")
      .select(col("vec_id"), Ann.dequantizeInt8().as("embedding"))
    val exact = Ann.bruteForceTopK(e.filter(col("vec_id") < 5), e, 5).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("cand_id"))).toSet
    val approx = Ann.bruteForceTopK(
        deqTable.filter(col("vec_id") < 5), deqTable, 5).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("cand_id"))).toSet
    (exact intersect approx).size.toDouble / exact.size should be >= 0.6
  }

  /** The original higher-order-function formulation of `Ann.quantizeInt8`
    * — interpreted (HOFs are CodegenFallback) but expressed entirely in
    * built-ins, kept as the REFERENCE implementation: the parity case
    * asserts the codegen kernel reproduces it element-for-element
    * (nulls, zero/empty vectors, rounding ties, clamping) on randomized
    * input. The null-element case is made EXPLICIT here: the earlier
    * formulation ran the clamp as `greatest(-127, least(127, round))`
    * and least/greatest SKIP null arguments, so a null element silently
    * quantized to code 127 (max positive!) instead of staying null — a
    * missing dimension must stay missing.
    */
  private def quantizeInt8Hof(df: org.apache.spark.sql.DataFrame, idCol: String = "vec_id",
                              embCol: String = "embedding"): org.apache.spark.sql.DataFrame = {
    val maxAbs = array_max(transform(col(embCol), x => abs(x)))
    val scale = (maxAbs / lit(127.0f)).cast("float")
    // degenerate branch also covers NON-FINITE maxAbs: one NaN/Inf
    // element poisons the scale, so every ratio is NaN and least/
    // greatest (which order NaN greatest) would fabricate code 127 —
    // all-zero codes with the NaN/Inf kept visible in `scale` instead
    val degenerate = coalesce(maxAbs, lit(0.0f)) === 0.0f ||
      isnan(maxAbs) || maxAbs === lit(Float.PositiveInfinity)
    df.select(
      col(idCol),
      scale.as("scale"),
      when(degenerate,
        transform(col(embCol), x =>
          when(x.isNull, lit(null).cast("tinyint")).otherwise(lit(0).cast("tinyint"))))
        .otherwise(transform(col(embCol), x =>
          when(x.isNull, lit(null).cast("tinyint"))
            .otherwise(greatest(lit(-127), least(lit(127), round(x / scale))).cast("tinyint"))))
        .as("q"))
  }

  it should "reproduce the HOF reference element-for-element (codegen kernel parity)" in {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // edge shapes the kernel must match exactly: rounding ties (HALF_UP
    // away from zero, where Math.round would differ), empty / all-null /
    // zero vectors, null elements, whole-null arrays, tiny magnitudes
    val edge: Seq[(Long, Seq[Any])] = Seq(
      (1000L, Seq(1.5f, -2.5f, 63.5f, -63.5f, 127.0f)),
      (1001L, Seq.empty[Any]),
      (1002L, Seq(null, 3.0f, null)),
      (1003L, Seq(0.0f, -0.0f, 0.0f)),
      (1004L, Seq(null, null)),
      (1005L, Seq(1e-30f, -1e-30f, 2e-30f)),
      (1006L, null),
      // non-finite elements poison maxAbs -> degenerate all-zero codes
      // (scale keeps the NaN/Inf marker); both implementations agree
      (1007L, Seq(Float.NaN, 1.0f)),
      (1008L, Seq(Float.PositiveInfinity, -2.0f, null)),
      (1009L, Seq(Float.NegativeInfinity, 3.0f)))
    val rnd = new scala.util.Random(11)
    val rand: Seq[(Long, Seq[Any])] = (0L until 300L).map { i =>
      (i, Seq.fill(16)(
        if (rnd.nextInt(10) == 0) null else ((rnd.nextFloat() - 0.5f) * 200f): Any))
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true), nullable = true)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize((edge ++ rand).map { case (id, a) => Row(id, a) }, 4),
      schema)
    def dump(q: org.apache.spark.sql.DataFrame) =
      q.orderBy("vec_id").collect().map { r =>
        (r.getLong(0),
          // bit pattern, not the float: Scala's boxed numeric equality is
          // IEEE (NaN != NaN), which would fail the NaN-scale rows even
          // when both sides agree
          if (r.isNullAt(1)) null else java.lang.Float.floatToIntBits(r.getFloat(1)),
          if (r.isNullAt(2)) null else r.getSeq[Any](2))
      }.toSeq
    dump(Ann.quantizeInt8(df)) shouldBe dump(quantizeInt8Hof(df))
  }

  "Ann.bruteForceTopK" should "return k deterministic rows per query" in {
    val q = embeddings.filter(col("vec_id") < 8)
    val c = embeddings.filter(col("vec_id") >= 8)
    val r1 = Ann.bruteForceTopK(q, c, 10).collect().map(_.toString).sorted
    val r2 = Ann.bruteForceTopK(q, c, 10).collect().map(_.toString).sorted
    r1 shouldBe r2
    r1.length shouldBe 80 // 8 queries x 10
  }

  it should "drop null-embedding rows instead of crashing the heap encoder" in {
    import spark.implicits._
    val q = embeddings.filter(col("vec_id") < 2)
    val nullRow = Seq((9999L, null.asInstanceOf[Array[Float]], 0))
      .toDF("vec_id", "embedding", "label")
    val c = embeddings.filter(col("vec_id") >= 8).unionByName(nullRow)
    // null sim would hit TopKAggregator's non-nullable (Double, Long)
    // tuple encoder; the filter must drop it before the aggregation
    val rows = Ann.bruteForceTopK(q, c, 10).collect()
    rows.length shouldBe 20
    rows.map(_.getAs[Long]("cand_id")) should not contain 9999L
    val cents = embeddings.filter(col("vec_id") % 97 === 0)
    val ivf = Ann.ivfTopK(q, c.unionByName(nullRow), cents, 10, nprobe = 2).collect()
    ivf.map(_.getAs[Long]("cand_id")) should not contain 9999L
  }

  "TextOps.subwordCount" should "count BPE-style pre-tokens at the edges" in {
    import spark.implicits._
    val df = Seq(
      ("", 0L),                      // empty
      ("hello", 1L),                 // one letter run
      ("hello world", 2L),           // " world" joins the space
      ("it's 42!", 4L),              // [it]['s][ 42][!]
      ("a  b", 3L)                   // [a][ ][ b]: double space -> ws run + spaced run? no: [a][\s\s]? greedy " ?" takes one
    ).toDF("text", "expected")
    val got = df.select(col("expected"), TextOps.subwordCount(col("text")).cast("long").as("n"))
      .collect()
    got.foreach(r => withClue(r.toString)(r.getLong(1) shouldBe r.getLong(0)))
  }

  "Multimodal.decodeImages" should "decode a hand-built PNG to exact pixels" in {
    import spark.implicits._
    import javax.imageio.ImageIO
    // 3x2 image with chosen pixel values, written through the JDK PNG
    // encoder — lossless, so the decode must reproduce every channel
    val px = Array( // (x, y, r, g, b)
      (0, 0, 255, 0, 0), (1, 0, 0, 255, 0), (2, 0, 0, 0, 255),
      (0, 1, 10, 20, 30), (1, 1, 0, 0, 0), (2, 1, 255, 255, 255))
    val img = new java.awt.image.BufferedImage(3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    px.foreach { case (x, y, r, g, b) => img.setRGB(x, y, (r << 16) | (g << 8) | b) }
    val bos = new java.io.ByteArrayOutputStream
    ImageIO.write(img, "png", bos)
    val png = bos.toByteArray

    val jbos = new java.io.ByteArrayOutputStream
    ImageIO.write(img, "jpg", jbos) // lossy: gate only dims/decodability

    val df = Seq(
      (1L, "image/png", png),
      (2L, "image/jpeg", jbos.toByteArray),
      (3L, "image/png", "not an image".getBytes("UTF-8")), // no reader accepts
      (4L, "text/plain", png)                              // non-image mime: skipped
    ).toDF("doc_id", "mime", "media")
    val out = Multimodal.decodeImages(df).collect().map(m => m.doc_id -> m).toMap

    val p = out(1L)
    p.decoded shouldBe true
    (p.width, p.height, p.channels) shouldBe ((3, 2, 3))
    p.pixel_sum shouldBe px.map { case (_, _, r, g, b) => r + g + b }.sum.toLong
    // md5 over row-major r,g,b bytes
    val md = java.security.MessageDigest.getInstance("MD5")
    val rgb = px.sortBy { case (x, y, _, _, _) => (y, x) }
      .flatMap { case (_, _, r, g, b) => Seq(r.toByte, g.toByte, b.toByte) }.toArray
    p.pixel_md5 shouldBe md.digest(rgb).map("%02x".format(_)).mkString

    val j = out(2L)
    j.decoded shouldBe true
    (j.width, j.height, j.channels) shouldBe ((3, 2, 3))

    out(3L).decoded shouldBe false
    out(3L).pixel_md5 shouldBe null
    out(4L).decoded shouldBe false
  }

  it should "round-trip the planted PNG table against the plant rule" in {
    import spark.implicits._
    val ids = (0L until 40L).toDF("doc_id")
    val out = Multimodal.decodeImages(Multimodal.plantPngTable(ids))
      .collect().map(m => m.doc_id -> m).toMap
    (0L until 40L).foreach { id =>
      val m = out(id)
      withClue(s"doc_id=$id: ") {
        m.decoded shouldBe true
        m.width shouldBe (2 + id % 6).toInt
        m.height shouldBe (2 + id % 4).toInt
        m.channels shouldBe 3
        val expect = (for {
          y <- 0 until m.height; x <- 0 until m.width
        } yield Math.floorMod(31 * id + 7 * x + 13 * y, 256) +
          Math.floorMod(17 * id + 5 * x + 11 * y, 256) +
          Math.floorMod(29 * id + 3 * x + 19 * y, 256)).sum
        m.pixel_sum shouldBe expect
      }
    }
  }

  "Multimodal.decodeAudio" should "decode a hand-built WAV to exact samples" in {
    import spark.implicits._
    import javax.sound.sampled._
    // stereo 16-bit PCM with chosen sample values, written through the
    // JDK WAV encoder — lossless, so the decode must reproduce the sum
    val samples = Array[Short](100, -100, 32767, -32768, 0, 1, -1, 12345) // 4 frames x 2ch
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (v, i) =>
      pcm(2 * i) = (v & 0xff).toByte; pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(8000f, 16, 2, true, false)
    val bos = new java.io.ByteArrayOutputStream
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 4L), AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray

    val df = Seq(
      (1L, "audio/wav", wav),
      (2L, "audio/wav", "not audio".getBytes("UTF-8")), // no reader accepts
      (3L, "text/plain", wav)                           // non-audio mime: skipped
    ).toDF("doc_id", "mime", "media")
    val out = Multimodal.decodeAudio(df).collect().map(m => m.doc_id -> m).toMap

    val a = out(1L)
    a.decoded shouldBe true
    a.n_frames shouldBe 4L
    a.channels shouldBe 2
    a.sample_rate shouldBe 8000
    a.amplitude_sum shouldBe samples.map(_.toLong).sum
    out(2L).decoded shouldBe false
    out(3L).decoded shouldBe false
  }

  it should "round-trip the planted WAV table against the plant rule" in {
    import spark.implicits._
    val ids = (0L until 40L).toDF("doc_id")
    val out = Multimodal.decodeAudio(Multimodal.plantWavTable(ids))
      .collect().map(m => m.doc_id -> m).toMap
    (0L until 40L).foreach { id =>
      val m = out(id)
      withClue(s"doc_id=$id: ") {
        m.decoded shouldBe true
        m.n_frames shouldBe 16 + id % 32
        m.channels shouldBe (1 + id % 2).toInt
        m.sample_rate shouldBe 8000
        val expect = (for {
          t <- 0 until m.n_frames.toInt; ch <- 0 until m.channels
        } yield Math.floorMod(37 * id + 257 * t + 101 * ch, 65536) - 32768).sum
        m.amplitude_sum shouldBe expect
      }
    }
  }

  "Multimodal.frameSample" should "sample deterministic byte windows" in {
    import spark.implicits._
    val df = Seq(
      (1L, "x" * 1000),  // 1000 bytes -> frames at 0 and 512 -> 2
      (2L, "y" * 512),   // exactly one stride -> 1 frame
      (3L, "")           // empty -> 0 frames, null md5
    ).toDF("doc_id", "text")
    val out = Multimodal.frameSample(Multimodal.asMediaTable(df))
      .collect().map(f => f.doc_id -> f).toMap
    out(1L).n_frames shouldBe 2L
    out(2L).n_frames shouldBe 1L
    out(3L).n_frames shouldBe 0L
    out(3L).first_frame_md5 shouldBe null
    // first frame md5 = md5 of the first 256 bytes
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = md.digest(("x" * 256).getBytes("UTF-8")).map("%02x".format(_)).mkString
    out(1L).first_frame_md5 shouldBe expect
  }

  "Multimodal.resample" should "nearest-neighbor sample bytes to a fixed length" in {
    import spark.implicits._
    val df = Seq((1L, "abcd"), (2L, "")).toDF("doc_id", "text")
    val out = Multimodal.resample(Multimodal.asMediaTable(df), target = 8)
      .collect().map(r => r.doc_id -> r).toMap
    // indices (i*4)/8 for i<8 -> 0,0,1,1,2,2,3,3 -> "aabbccdd"
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = md.digest("aabbccdd".getBytes("UTF-8")).map("%02x".format(_)).mkString
    out(1L).resampled_md5 shouldBe expect
    out(1L).n_bytes shouldBe 4
    out(2L).resampled_md5 shouldBe null
  }

  "Multimodal" should "extract deterministic features preserving byte counts" in {
    val feats = Multimodal.extractFeatures(Multimodal.asMediaTable(docs)).cache()
    try {
      val joined = feats.toDF().join(docs, "doc_id")
        .select(col("n_bytes"), org.apache.spark.sql.functions.length(col("text")).as("n_chars"),
          col("head_byte"), substring(col("text"), 1, 1).as("c1"), col("feature"))
        .collect()
      joined.foreach { r =>
        // ascii corpus: bytes == chars, head byte == first char
        r.getAs[Int]("n_bytes") shouldBe r.getAs[Int]("n_chars")
        r.getAs[Int]("head_byte") shouldBe r.getAs[String]("c1").head.toInt
        r.getAs[scala.collection.Seq[Float]]("feature").length shouldBe 4
      }
    } finally feats.unpersist()
  }

  "TextOps.redactPii" should "redact emails, SSN-shaped ids, then phones, in that order" in {
    import spark.implicits._
    val got = Seq(
      "mail me at john.doe+x@sub.example.org today",
      "ssn 123-45-6789 phone +1 (555) 123-4567 end",
      "order 12 costs 34 dollars",
      "id 555-123-4571234"
    ).toDF("text").select(TextOps.redactPii(col("text"))).as[String].collect()
    got(0) shouldBe "mail me at <EMAIL> today"
    got(1) shouldBe "ssn <ID> phone <PHONE> end"
    got(2) shouldBe "order 12 costs 34 dollars"
    got(3) shouldBe "id <PHONE>"
  }

  "TextOps.dupNgramRatio" should "measure the repeated-gram fraction" in {
    import spark.implicits._
    val got = Seq(
      "a b c a b c a b c", // 7 3-grams, 3 distinct -> 1 - 3/7
      "all words unique here now", // 3 distinct 3-grams of 3
      "tiny" // < n tokens: single whole-text shingle, ratio 0
    ).toDF("text").select(TextOps.dupNgramRatio(col("text"), 3)).as[Double].collect()
    got(0) shouldBe 0.571429 +- 1e-9
    got(1) shouldBe 0.0
    got(2) shouldBe 0.0
  }

  "TextOps.topTokenShare" should "report the modal token share per doc" in {
    import spark.implicits._
    val df = Seq((1L, "a a a b"), (2L, "x y")).toDF("doc_id", "text")
    val got = TextOps.topTokenShare(df).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got(1L) shouldBe 0.75 +- 1e-9
    got(2L) shouldBe 0.5 +- 1e-9
  }

  "TextOps.contaminationHits" should "flag docs sharing an 8-gram with the benchmark" in {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four five six seven eight nine"),
      (2L, "totally different words in this row with zero overlap whatsoever"),
      (3L, "two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    val hits = TextOps.contaminationHits(docs, docs.filter(col("doc_id") === 3), n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    hits shouldBe Map(1L -> 1L, 3L -> 1L) // doc1 shares bench's only gram; bench self-hits
  }

  "TextOps.bpeMerges" should "learn the hand-computed merge sequence with deterministic ties" in {
    import spark.implicits._
    // census: low x3, lower x1, newest x2
    val docs = Seq((1L, "low low lower"), (2L, "newest newest  low")).toDF("doc_id", "text")
    val merges = TextOps.bpeMerges(docs, numMerges = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toList
    // step 0: (l,o) and (o,w) tie at 4 -> lexically smaller left wins
    // step 1: (lo,w) 4; step 2: (low,</w>) 3
    merges shouldBe List(
      (0L, "l", "o", 4L), (1L, "lo", "w", 4L), (2L, "low", "</w>", 3L))

    // exhaustion: a single 1-char word runs out of pairs after 1 merge
    val tiny = Seq((1L, "a")).toDF("doc_id", "text")
    TextOps.bpeMerges(tiny, numMerges = 5)
      .collect().map(r => (r.getString(1), r.getString(2))).toList shouldBe
      List(("a", "</w>"))

    // apply the learned table: low -> [low] (1), lower -> low e r </w>
    // (4), newest -> n e w e s t </w> (7, untouched by these merges)
    val counts = TextOps.bpeTokenCounts(docs,
        merges.map(m => (m._2, m._3)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    counts shouldBe Map(1L -> 6L, 2L -> 15L)
  }

  /** Plain sequential BPE, independent of the engine: rebuild the
    * frequency-weighted pair counts every step, take the max under
    * (count desc, left, right), merge left to right without overlap.
    * String order is UTF-8 byte order on the ASCII fixtures used here.
    */
  private def referenceBpe(texts: Seq[String], numMerges: Int): List[(Long, String, String, Long)] = {
    var words = texts.filter(_ != null).flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).toList.map { case (w, ws) => (w.map(_.toString).toList :+ "</w>", ws.size.toLong) }
    def merge(s: List[String], l: String, r: String): List[String] = s match {
      case a :: b :: rest if a == l && b == r => (l + r) :: merge(rest, l, r)
      case a :: rest => a :: merge(rest, l, r)
      case Nil => Nil
    }
    val out = List.newBuilder[(Long, String, String, Long)]
    var step = 0
    var exhausted = false
    while (step < numMerges && !exhausted) {
      val counts = words.flatMap { case (s, n) => s.zip(s.tail).map(_ -> n) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((step.toLong, l, r, c))
        words = words.map { case (s, n) => (merge(s, l, r), n) }
        step += 1
      }
    }
    out.result()
  }

  "TextOps.bpeMerges" should "equal a plain-Scala sequential trainer" in {
    import spark.implicits._
    def table(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toList

    // hand fixture incl. ties ((l,o)/(o,w) at 4) and merge chains
    // ((l,o) -> (lo,w) -> (low,</w>)) — the cases that killed batching
    val tinyTexts = Seq("low low lower", "newest newest  low")
    val tiny = tinyTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    table(TextOps.bpeMerges(tiny, numMerges = 3)) shouldBe referenceBpe(tinyTexts, 3)

    // exhaustion: the census runs out of pairs before numMerges
    val one = Seq((1L, "a")).toDF("doc_id", "text")
    table(TextOps.bpeMerges(one, numMerges = 5)) shouldBe referenceBpe(Seq("a"), 5)

    // natural corpus, deep: 64 exact merges
    val texts = docs.select("text").as[String].collect().toSeq
    table(TextOps.bpeMerges(docs, numMerges = 64)) shouldBe referenceBpe(texts, 64)

    // the census guard fails loud with its knob named
    val e = intercept[IllegalArgumentException] {
      TextOps.bpeMerges(docs, numMerges = 1, maxCensusWords = 3)
    }
    e.getMessage should include("maxCensusWords")
  }

  "TextOps.bpeMergesBatched" should "pin the greedy batch contract" in {
    import spark.implicits._
    def table(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toList

    // batch=1 degenerates to exactly sequential
    table(TextOps.bpeMergesBatched(docs, numMerges = 12, batch = 1)) shouldBe
      table(TextOps.bpeMerges(docs, numMerges = 12))

    // the documented divergence pinned as a contract: sequential CHAINS
    // ((l,o) -> (lo,w) -> (low,</w>)) while a one-census batch can only
    // pick original-symbol pairs — greedy takes the top disjoint trio
    val tiny = Seq((1L, "low low lower"), (2L, "newest newest  low")).toDF("doc_id", "text")
    table(TextOps.bpeMergesBatched(tiny, numMerges = 3, batch = 3)) shouldBe List(
      (0L, "l", "o", 4L), (1L, "w", "</w>", 3L), (2L, "e", "s", 2L))
    table(TextOps.bpeMerges(tiny, numMerges = 3)) shouldBe List(
      (0L, "l", "o", 4L), (1L, "lo", "w", 4L), (2L, "low", "</w>", 3L))

    // the point of batching: ~batch x fewer census rounds
    val (df, rounds) = TextOps.bpeMergesBatchedWithRounds(docs, numMerges = 64, batch = 8)
    df.count() shouldBe 64
    info(s"64 merges in $rounds census rounds at batch=8 (sequential: 64)")
    rounds should be <= 16
  }

  "the per-group TopK family" should "survive a pathologically hot group exactly, with no single-task blowup" in {
    import spark.implicits._
    // Zipf-hot fixture (the IntegritySpec skew pattern, applied to the
    // heap-bounded operators): one group carries 80% of 100k rows
    val n = 100000
    val fixture = (0 until n).map { i =>
      val g = if (i % 10 < 8) "hot" else s"g${i % 10}"
      (i.toLong, g, ((i * 2654435761L) % 100000L).toDouble, s"t${i % 53} t${(i * 7) % 53}")
    }
    val df = fixture.toDF("doc_id", "source", "score", "text").repartition(16).cache()
    df.count()
    // alternate layout for the determinism check, materialized BEFORE
    // the listener attaches (its repartition shuffles raw fixture rows
    // and would otherwise drown the operator metrics being asserted)
    val df3 = df.repartition(3).cache()
    df3.count()

    // runtime skew metric: max records any single task reads off a
    // shuffle. A window/row_number shape would drag all 80k hot rows
    // into ONE task; the heap-bounded partial-agg shape carries at most
    // tasks x groups x k records through the exchange in total.
    val maxTaskRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null)
          maxTaskRead.getAndUpdate(cur => math.max(cur, m.shuffleReadMetrics.recordsRead))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // capPerGroup: exact top-10 by (score desc, id asc) per group
      val capped = Sampling.capPerGroup(df, n = 10, groupCol = "source", scoreCol = "score")
      capped.queryExecution.executedPlan.toString should not include "Window"
      capped.queryExecution.executedPlan.toString should include("partial_topkaggregator")
      val gotCap = capped.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val expCap = fixture.groupBy(_._2).flatMap { case (g, rs) =>
        rs.sortBy(r => (-r._3, r._1)).take(10).zipWithIndex
          .map { case (r, i) => (g, r._1, r._3, (i + 1).toLong) }
      }.toSet
      gotCap shouldBe expCap

      // vocabularyByGroup: exact per-group top tokens (tf desc, token asc)
      val vocab = TextOps.vocabularyByGroup(df, k = 5, groupCol = "source")
      vocab.queryExecution.executedPlan.toString should not include "Window"
      vocab.queryExecution.executedPlan.toString should include("partial_topkaggregator")
      val gotVocab = vocab.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
      val expVocab = fixture
        .flatMap { case (_, g, _, text) => text.split(" ").map(t => (g, t)) }
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .map { case ((g, t), tf) => (g, t, tf) }
        .groupBy(_._1).flatMap { case (g, ts) =>
          ts.sortBy(t => (-t._3, t._2)).take(5).zipWithIndex
            .map { case ((_, t, tf), i) => (g, i.toLong, t, tf) }
        }.toSet
      gotVocab shouldBe expVocab

      // reservoirByGroupMd5: exactly min(k, |group|) rows per group,
      // layout-invariant under the skew (same picks at 3 partitions)
      val res = Sampling.reservoirByGroupMd5(df, k = 20,
        keyCol = "doc_id", groupCol = "source", salt = "skew")
      val picks = res.select("source", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      picks.groupBy(_._1).view.mapValues(_.length).toMap shouldBe
        fixture.groupBy(_._2).view.mapValues(rs => math.min(20, rs.size)).toMap
      val picks3 = Sampling.reservoirByGroupMd5(df3, k = 20,
          keyCol = "doc_id", groupCol = "source", salt = "skew")
        .select("source", "doc_id").collect().map(r => (r.getString(0), r.getLong(1)))
      picks3.toSet shouldBe picks.toSet

      // listener events are async; give the bus a moment to drain, then
      // assert no task read anywhere near the hot group's 80k rows
      val deadline = System.currentTimeMillis() + 5000
      while (maxTaskRead.get() == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      maxTaskRead.get() should be > 0L
      maxTaskRead.get() should be < 20000L
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      df3.unpersist()
      df.unpersist()
    }
  }

  "TextOps.dedupLinesWithinDoc" should "keep first occurrences in order" in {
    import spark.implicits._
    val out = Seq(
      (1L, "a\nb\na\nc\nb"), // far + adjacent repeats
      (2L, "x"),
      (3L, "")               // empty text -> single empty line, unchanged
    ).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.dedupLinesWithinDoc(col("text")).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    out shouldBe Map(1L -> "a\nb\nc", 2L -> "x", 3L -> "")
  }

  "TextOps.unigramLogProb" should "score repetitive docs higher than rare-token docs" in {
    import spark.implicits._
    // corpus: "the" x4, "rare" x1, "unique" x1  -> total 6
    val docs = Seq((1L, "the the the"), (2L, "the rare"), (3L, "unique"), (4L, "  "))
      .toDF("doc_id", "text")
    val out = TextOps.unigramLogProb(docs)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val ln = (x: Double) => math.log(x)
    out(1L) shouldBe ln(4.0 / 6) +- 1e-12
    out(2L) shouldBe (ln(4.0 / 6) + ln(1.0 / 6)) / 2 +- 1e-12
    out(3L) shouldBe ln(1.0 / 6) +- 1e-12
    out.contains(4L) shouldBe false // tokenless doc: nothing to score
    out(1L) should be > out(3L)     // common beats rare
  }

  "TextOps.removeBoilerplate" should "drop cross-doc repeated lines, keep order, preserve rows" in {
    import spark.implicits._
    val docs = Seq(
      (1L, "BOILER\nunique one\nBOILER\nlast one"), // in-doc repeat counts once for census
      (2L, "unique two\nBOILER"),
      (3L, "BOILER\nunique three"),
      (4L, "BOILER"),                                // all-boilerplate -> empty text, row kept
      (5L, "solo\nsolo")                             // repeated only WITHIN one doc -> stays
    ).toDF("doc_id", "text")

    val census = TextOps.boilerplateLines(docs, minDocs = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    census shouldBe Map("BOILER" -> 4L) // docs 1-4; "solo" counted once, below bar

    val out = TextOps.removeBoilerplate(docs, minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    out shouldBe Map(
      1L -> "unique one\nlast one", // BOTH occurrences removed, order kept
      2L -> "unique two",
      3L -> "unique three",
      4L -> "",
      5L -> "solo\nsolo")
    an[IllegalArgumentException] should be thrownBy
      TextOps.removeBoilerplate(docs, minDocs = 1) // would delete every line
  }

  "Dedup.removeDupSpans" should "cut cross-doc duplicated spans only, preserve rows and order" in {
    import spark.implicits._
    // docs 1 and 2 share the 3-gram "x y z" (doc 1 twice: overlapping
    // coverage merges); doc 3's "p q r" repeats only WITHIN the doc;
    // doc 4 is entirely one shared span -> empty text; doc 5 too short
    val docs = Seq(
      (1L, "a x y z b x y z"),
      (2L, "x y z c"),
      (3L, "p q r p q r s"),
      (4L, "x y z"),
      (5L, "t u")
    ).toDF("doc_id", "text")

    val hot = Dedup.dupSpans(docs, n = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    hot shouldBe Map("x y z" -> 3L) // docs 1, 2, 4; "p q r" is one doc

    val out = Dedup.removeDupSpans(docs, n = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    out shouldBe Map(
      1L -> "a b",          // both occurrences cut, survivors in order
      2L -> "c",
      3L -> "p q r p q r s", // within-doc repeat is NOT this operator's job
      4L -> "",              // fully covered -> row kept, empty text
      5L -> "t u")           // shorter than n: no grams, untouched
    // deterministic across partitionings
    val again = Dedup.removeDupSpans(docs.repartition(5), n = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    again shouldBe out
  }

  "TextOps.vocabulary" should "rank tokens by corpus frequency with deterministic ties" in {
    import spark.implicits._
    val df = Seq((1L, "b a a"), (2L, "a b c"), (3L, "c b")).toDF("doc_id", "text")
    val got = TextOps.vocabulary(df, topN = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    got shouldBe Seq( // a and b tie at tf=3 -> token order breaks the tie
      ("a", 3L, 2L),
      ("b", 3L, 3L),
      ("c", 2L, 2L))
  }

  "Ann" should "never rank a zero-norm embedding (NaN cosine) as a neighbor or near-dup" in {
    import spark.implicits._
    val dim = 4
    val rows = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), // query
      (1L, Array(0.9f, 0.1f, 0f, 0f)),
      (2L, Array(0f, 0f, 0f, 0f)), // zero norm -> cosine NaN
      (3L, Array(0.8f, 0.2f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val topIds = Ann.bruteForceTopK(rows.filter(col("vec_id") === 0),
        rows.filter(col("vec_id") > 0), k = 3)
      .select("cand_id").collect().map(_.getLong(0)).toSet
    topIds should not contain 2L
    // NaN >= tau evaluates TRUE in Spark ordering semantics — the pair
    // path must exclude it explicitly
    val pairIds = Ann.cosineNearDupPairs(rows, tau = 0.5)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    pairIds should not contain 2L
    val srpIds = Ann.srpNearDupPairs(rows, tau = 0.5, dim = dim)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    srpIds should not contain 2L
    // and the declared dim is validated against the data
    an[IllegalArgumentException] should be thrownBy
      Ann.srpNearDupPairs(rows, tau = 0.5, dim = 16)
  }

  "TextOps tokenization" should "give blank docs zero tokens, consistently with tokenCount" in {
    import spark.implicits._
    val df = Seq((1L, "a b a"), (2L, "   "), (3L, "")).toDF("doc_id", "text")
    // blank docs absent, no phantom "" token anywhere
    TextOps.topTokenShare(df).select("doc_id").collect()
      .map(_.getLong(0)).toSet shouldBe Set(1L)
    val vocab = TextOps.vocabulary(df, 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    vocab shouldBe Map("a" -> 2L, "b" -> 1L)
    TextOps.tfidf(df, 10).select("token").collect()
      .map(_.getString(0)).toSet should not contain ""
  }

  "Conversations.structureStats" should "sessionize by gap and score role repetition" in {
    import spark.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")
    val df = Seq(
      // c1: turns at day 1,2,40 (gap day2->day40 = 38d > 30d => 2 sessions);
      // roles u,u,a => 1 repeat of 2 pairs
      ("c1", 0, "user", "t0", ts(1)),
      ("c1", 1, "user", "t1", ts(2)),
      ("c1", 2, "assistant", "t2", java.sql.Timestamp.valueOf("2024-02-09 00:00:00")),
      // c2: single turn => 1 session, ratio 0
      ("c2", 0, "user", "t0", ts(5))
    ).toDF("conv_id", "turn_idx", "role", "text", "ts")
    val got = Conversations.structureStats(df, maxGapSeconds = 30L * 24 * 3600)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    got("c1") shouldBe ((3L, 2L, 0.5))
    got("c2") shouldBe ((1L, 1L, 0.0))
  }

  "TextOps.tfidf" should "weight tokens by tf * ln(N/df) over the top vocabulary" in {
    import spark.implicits._
    val df = Seq((1L, "a a b"), (2L, "a c"), (3L, "c c c")).toDF("doc_id", "text")
    val got = TextOps.tfidf(df, vocabSize = 2) // vocab: a (tf 3) and c (tf 4... )
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    // vocab by (tf desc, token asc): c(4), a(3); N=3, df(a)=2, df(c)=2
    val w = (tf: Int, df0: Int) =>
      math.round(tf * math.log(3.0 / df0) * 1e6) / 1e6
    got shouldBe Set(
      (1L, "a", w(2, 2)),
      (2L, "a", w(1, 2)),
      (2L, "c", w(1, 2)),
      (3L, "c", w(3, 2)))
  }

  it should "submit no Spark job at construction time" in {
    import spark.implicits._
    // round-3 finding: an eager df.count() inside the operator is a
    // full job on a derived input before the caller even acts. Pin
    // laziness with a job listener around construction only.
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        started.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
        .filter(col("doc_id") > 0) // derived input: a count would be a real job
      val plan = TextOps.tfidf(df, vocabSize = 2)
      // listener bus dispatch is async; an eager count() inside tfidf
      // would have BLOCKED until its job finished, so its start event
      // is already posted — give dispatch a beat, then assert
      Thread.sleep(500)
      started.get() shouldBe 0
      plan.count() should be > 0L // and the plan still executes
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  "TextOps.tokenPairCounts" should "count adjacent bigrams with deterministic top-N" in {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b c"),   // pairs: "a b" x2, "b a", "b c"
      (2L, "a b"),         // "a b"
      (3L, "solo"),        // no pairs
      (4L, "   "),         // no tokens
      (5L, "")).toDF("doc_id", "text")
    val got = TextOps.tokenPairCounts(df, topN = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    got shouldBe List(("a b", 3L), ("b a", 1L), ("b c", 1L))
  }

  "TextOps.vocabularyByGroup" should "rank top tokens within each group with deterministic ties" in {
    import spark.implicits._
    val df = Seq(
      (Some("s1"), "a a a b b c"),
      (Some("s1"), "b z"),         // s1: a:3 b:3 c:1 z:1 -> tie a/b by token asc
      (Some("s2"), "x y y"),
      (None, "q q")                // null group is its own group
    ).toDF("source", "text")
    val got = TextOps.vocabularyByGroup(df, k = 2)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getString(2), r.getLong(3)))
      .toList.sortBy(x => (x._1.getOrElse(""), x._2))
    got shouldBe List(
      (None, 0L, "q", 2L),
      (Some("s1"), 0L, "a", 3L), (Some("s1"), 1L, "b", 3L),
      (Some("s2"), 0L, "y", 2L), (Some("s2"), 1L, "x", 1L))
  }

  "Sampling.reservoirByGroupMd5" should "keep exactly min(k, group size) rows, layout-invariant" in {
    import spark.implicits._
    val df = ((1 to 100).map(i => (i.toLong, "big")) ++
      (101 to 103).map(i => (i.toLong, "tiny"))).toDF("doc_id", "source")
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.reservoirByGroupMd5(d, k = 10, "doc_id", "source", salt = "t")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val got = run(df)
    got.count(_._2 == "big") shouldBe 10    // exact budget
    got.count(_._2 == "tiny") shouldBe 3    // short group kept whole
    run(df.repartition(7)) shouldBe got     // membership is layout-invariant
    // membership is a pure function of (key, salt): a disjoint extra
    // group does not disturb the big group's picks
    val extra = df.unionByName((200 to 300).map(i => (i.toLong, "other")).toDF("doc_id", "source"))
    run(extra).filter(_._2 == "big") shouldBe got.filter(_._2 == "big")
    // original schema passes through (left-semi: no helper columns)
    Sampling.reservoirByGroupMd5(df, 10, "doc_id", "source").columns.toSeq shouldBe
      Seq("doc_id", "source")
  }

  "Sampling.weightedReservoirByGroupMd5" should "favor heavy rows, exclude non-positive weights" in {
    import spark.implicits._
    val df = ((1 to 100).map(i => (i.toLong, "g", 1.0)) :+ (999L, "g", 1e9))
      .toDF("doc_id", "source", "w")
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.weightedReservoirByGroupMd5(d, k = 10, "doc_id", "source", "w", salt = "t")
        .select("doc_id").as[Long].collect().toSet
    val got = run(df)
    got.size shouldBe 10
    // ln(u)/1e9 ~ -1e-9 beats every unit-weight key's ln(u)/1 ~ -1
    got should contain(999L)
    run(df.repartition(9)) shouldBe got // layout-invariant
    // zero / negative / null weights are excluded, not heap winners
    val dirty = df.unionByName(Seq((1001L, "g", 0.0), (1002L, "g", -5.0))
      .toDF("doc_id", "source", "w"))
      .unionByName(Seq((1003L, "g")).toDF("doc_id", "source")
        .withColumn("w", lit(null).cast("double")))
    val got2 = run(dirty)
    got2.intersect(Set(1001L, 1002L, 1003L)) shouldBe empty
    got2 shouldBe got // the excluded rows don't disturb the winners
  }

  "Sampling.temperatureMixRates" should "flatten the group distribution toward alpha" in {
    import spark.implicits._
    // counts 4 and 1, alpha 0.5: z = 2 + 1 = 3 (pow exact on squares)
    // q = 2/3, 1/3; epochs = (2/3)*5/4, (1/3)*5/1
    val df = (Seq.fill(4)("big") ++ Seq("small")).toDF("source")
    val got = Sampling.temperatureMixRates(df, "source", alpha = 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toList.sortBy(_._1)
    got shouldBe List(
      ("big", 4L, 0.8, 0.666667, 0.833333),
      ("small", 1L, 0.2, 0.333333, 1.666667))
    // alpha = 1 is the natural distribution: q == p, epochs == 1
    val nat = Sampling.temperatureMixRates(df, "source", alpha = 1.0)
      .collect().map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    nat.foreach { case (p, q, e) => q shouldBe p; e shouldBe 1.0 }
    an[IllegalArgumentException] should be thrownBy
      Sampling.temperatureMixRates(df, "source", alpha = 0.0)
  }

  "Dedup.editVerifiedPairs" should "keep candidate pairs within the Levenshtein bound" in {
    import spark.implicits._
    val df = Seq((1L, "abcdef"), (2L, "abcdxf"), (3L, "zzzzzzzzzzzzzzzz"),
      (4L, "abcdef extra tail")).toDF("doc_id", "text")
    val cands = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    def run(maxD: Int) = Dedup.editVerifiedPairs(df, cands, maxD)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    run(3) shouldBe Set((1L, 2L, 1L)) // substitution=1 in; gap-11 and far pairs out
    run(11) shouldBe Set((1L, 2L, 1L), (1L, 4L, 11L)) // 11 inserted chars exactly at the bound
    run(0) shouldBe empty
  }

  "Conversations.roleTransitions" should "compute P(next role | role) with a null-role state" in {
    import spark.implicits._
    val df = Seq(
      ("A", 0, Some("u"), 10L, "t1"), ("A", 1, Some("a"), 20L, "t2"),
      ("A", 2, Some("u"), 30L, "t3"),
      ("B", 0, Some("u"), 10L, "t4"), ("B", 1, None, 20L, "t5")
    ).toDF("conv_id", "turn_idx", "role", "ts", "text")
    val got = Conversations.roleTransitions(df)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    got shouldBe Set(
      ("u", "a", 1L, 0.5), ("u", "<null>", 1L, 0.5), ("a", "u", 1L, 1.0))
    Conversations.roleTransitions(df.repartition(4))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet shouldBe got
  }

  "Conversations.funnelCounts" should "count users passing stages in order, ties qualifying" in {
    import spark.implicits._
    val ev = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L), // full funnel
      (2L, "click", 5L), (2L, "view", 10L), (2L, "purchase", 50L),  // click BEFORE view: stage 1 only
      (3L, "view", 10L), (3L, "click", 15L), (3L, "purchase", 12L), // purchase before click: stages 1-2
      (4L, "click", 10L), (4L, "purchase", 20L),                    // never viewed: no stage
      (5L, "view", 10L), (5L, "click", 10L)                         // simultaneous click qualifies
    ).toDF("user_id", "event_type", "ts")
    def run(d: org.apache.spark.sql.DataFrame) =
      Conversations.funnelCounts(d, Seq("view", "click", "purchase"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
    run(ev) shouldBe ((4L, 3L, 1L))
    run(ev.repartition(7)) shouldBe ((4L, 3L, 1L))
    an[IllegalArgumentException] should be thrownBy
      Conversations.funnelCounts(ev, Seq("view"))
  }

  "Conversations.retentionCohorts" should "bucket users by first-event period and count later activity" in {
    import spark.implicits._
    // period 100s: u1 cohort 0, active offsets {0,1,3}; u2 cohort 1,
    // active {0}; u3 cohort 0, active {0}; two events in one period
    // count once
    val ev = Seq(
      (1L, 50L), (1L, 150L), (1L, 155L), (1L, 350L),
      (2L, 120L),
      (3L, 0L)
    ).toDF("user_id", "ts")
    def run(d: org.apache.spark.sql.DataFrame) =
      Conversations.retentionCohorts(d, periodSeconds = 100L, maxPeriods = 12)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = run(ev)
    got shouldBe Set((0L, 0L, 2L), (0L, 1L, 1L), (0L, 3L, 1L), (1L, 0L, 1L))
    run(ev.repartition(5)) shouldBe got
    // maxPeriods caps the matrix width
    Conversations.retentionCohorts(ev, 100L, maxPeriods = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((0L, 0L), (1L, 0L))
  }

  "TextOps.bigramLogProb" should "score docs by interpolated corpus bigram likelihood" in {
    import spark.implicits._
    // bi: (a,b):2 (a,c):1; left a:3; continuation b:{a} c:{a} -> 1 each
    // over 2 distinct pairs, so Pc(b) = Pc(c) = 1/2
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo"), (5L, ""))
      .toDF("doc_id", "text")
    val got = TextOps.bigramLogProb(df, lambda = 0.8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    got.keySet shouldBe Set(1L, 2L, 3L) // <2 tokens -> no pairs -> no row
    got(1L) shouldBe math.log(0.8 * (2.0 / 3) + (1.0 - 0.8) * 0.5) +- 2e-6
    got(2L) shouldBe got(1L)
    got(3L) shouldBe math.log(0.8 * (1.0 / 3) + (1.0 - 0.8) * 0.5) +- 2e-6
    // the common pair scores strictly higher than the rare one
    got(1L) should be > got(3L)
  }

  "SparkEntry chi2_source_lang" should "be 0 under independence and n on the diagonal" in {
    import spark.implicits._
    // perfectly dependent 2x2 (diagonal): e = 1 everywhere, chi2 = 4
    val dep = Seq(("s1", "en"), ("s1", "en"), ("s2", "de"), ("s2", "de"))
      .toDF("source", "lang").withColumn("doc_id", lit(1L))
      .withColumn("text", lit("")).withColumn("n_chars", lit(0L))
    val dir = java.nio.file.Files.createTempDirectory("chi2t").toString
    dep.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = graft.SparkEntry.queries("chi2_source_lang")(spark, dir).collect()(0)
    r.getDouble(0) shouldBe 4.0 +- 1e-9
    r.getLong(1) shouldBe 1L
    // perfectly independent: same lang mix in both sources -> chi2 = 0
    val ind = Seq(("s1", "en"), ("s1", "de"), ("s2", "en"), ("s2", "de"))
      .toDF("source", "lang").withColumn("doc_id", lit(1L))
      .withColumn("text", lit("")).withColumn("n_chars", lit(0L))
    ind.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r2 = graft.SparkEntry.queries("chi2_source_lang")(spark, dir).collect()(0)
    r2.getDouble(0) shouldBe 0.0 +- 1e-9
  }

  "TextOps.pmiCollocations" should "rank pairs by ln of observed-over-independent frequency" in {
    import spark.implicits._
    // corpus: unigrams a:4 b:3 c:1 (T=8); pairs (a,b)x3 (b,a)x2 (a,c)x1
    // pmi(a,b) = ln(3*8/(4*3)) = ln 2; pmi(a,c) = ln(1*8/(4*1)) = ln 2;
    // pmi(b,a) = ln(2*8/(3*4)) = ln(4/3)
    val df = Seq((1L, "a b a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextOps.pmiCollocations(df, topN = 10, minCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toList
    got shouldBe List(
      ("a", "b", 3L, 0.693147), ("a", "c", 1L, 0.693147), ("b", "a", 2L, 0.287682))
    // the threshold prunes rare pairs before any join
    TextOps.pmiCollocations(df, topN = 10, minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toList shouldBe
      List(("a", "b"), ("b", "a"))
  }

  "TextOps.charEntropy" should "compute per-doc Shannon entropy in bits" in {
    import spark.implicits._
    val df = Seq(
      (1L, "aabb"), // two symbols, uniform -> 1 bit
      (2L, "aaaa"), // one symbol -> 0 bits
      (3L, "abcd"), // four symbols, uniform -> 2 bits
      (4L, "")      // no characters -> absent
    ).toDF("doc_id", "text")
    val got = TextOps.charEntropy(df).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    got shouldBe Map(1L -> 1.0, 2L -> 0.0, 3L -> 2.0)
  }

  "TextOps.bm25" should "score documents by Okapi BM25 with deterministic top-N" in {
    import spark.implicits._
    // N=3, avgdl=3, df(x)=df(y)=2 -> idf = ln(1 + 1.5/2.5) = ln 1.6
    val df = Seq((1L, "x x y"), (2L, "x z"), (3L, "y y y y")).toDF("doc_id", "text")
    val got = TextOps.bm25(df, Seq("x", "y"), topN = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    got.map(_._1) shouldBe List(1L, 3L, 2L) // rank order
    val idf = math.log(1.6)
    got(0)._2 shouldBe (idf * (2 * 2.2 / (2 + 1.2) + 1.0)) +- 2e-6
    got(1)._2 shouldBe (idf * 4 * 2.2 / (4 + 1.2 * (0.25 + 0.75 * 4.0 / 3))) +- 2e-6
    got(2)._2 shouldBe (idf * 2.2 / (1 + 1.2 * (0.25 + 0.5))) +- 2e-6
    // a term absent from the corpus contributes nothing and breaks nothing
    TextOps.bm25(df, Seq("zzz"), topN = 3).count() shouldBe 0L
  }

  "TextOps.bm25Multi" should "batch-score queries in one pass, matching the single-query form" in {
    import spark.implicits._
    val df = Seq((1L, "x x y"), (2L, "x z"), (3L, "y y y y")).toDF("doc_id", "text")
    val multi = TextOps.bm25Multi(df, Map("qx" -> Seq("x"), "qxy" -> Seq("x", "y")), k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // the union-term query reproduces the single-query operator exactly
    multi.filter(_._1 == "qxy").sortBy(_._2).map(x => (x._3, x._4)).toList shouldBe
      TextOps.bm25(df, Seq("x", "y"), topN = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    // the single-term query ranks only docs containing that term,
    // ranks dense from 0
    val qx = multi.filter(_._1 == "qx").sortBy(_._2)
    qx.map(_._3).toSet shouldBe Set(1L, 2L)
    qx.map(_._2).toList shouldBe List(0L, 1L)
  }

  "Sampling.upsampleMd5" should "emit floor(rate) copies plus an md5-selected fraction" in {
    import spark.implicits._
    val df = (1L to 400L).toDF("doc_id")
    val up = Sampling.upsampleMd5(df, 2.3, "doc_id", salt = "t")
      .groupBy("doc_id").agg(count(lit(1)).as("copies"),
        countDistinct(col("copy_idx")).as("distinctIdx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    up.length shouldBe 400 // every row survives at rate >= 1
    all(up.map(_._2)) should (be(2L) or be(3L))
    up.foreach { case (_, c, d) => d shouldBe c } // copy_idx distinct per copy
    val three = up.count(_._2 == 3L)
    three.toDouble / 400 shouldBe 0.3 +- 0.08
    // determinism: same input -> same copy multiset
    val again = Sampling.upsampleMd5(df, 2.3, "doc_id", salt = "t")
      .groupBy("doc_id").agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    up.map(t => (t._1, t._2)).toMap shouldBe again
    // rate < 1 degrades to plain sampling with the same bucket rule
    val down = Sampling.upsampleMd5(df, 0.3, "doc_id", salt = "t")
    down.select("doc_id").collect().map(_.getLong(0)).toSet shouldBe
      Sampling.hashSampleMd5(df, 0.3, "doc_id", salt = "t")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    down.select("copy_idx").distinct().collect().map(_.getLong(0)).toSeq shouldBe Seq(0L)
  }

  "Sampling.mixWeightsMd5" should "apply per-stratum weights below and above 1 in one rule" in {
    import spark.implicits._
    val df = (1L to 300L).map(i => (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "zh" else "xx"))
      .toDF("doc_id", "lang")
    val out = Sampling.mixWeightsMd5(df, "doc_id", "lang",
      Map("en" -> 1.5, "zh" -> 0.25), defaultWeight = 0.0, salt = "t")
    val byLang = out.groupBy("lang").agg(count(lit(1)).as("n"), countDistinct("doc_id").as("d"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // en (weight 1.5): every doc >= 1 copy, total ~1.5x
    byLang("en")._2 shouldBe 100
    byLang("en")._1.toDouble shouldBe (150.0 +- 25.0)
    // zh (weight .25): a ~25% subset, one copy each
    byLang("zh")._1 shouldBe byLang("zh")._2
    byLang("zh")._1.toDouble shouldBe (25.0 +- 15.0)
    // default 0: stratum absent entirely
    byLang.get("xx") shouldBe None
    // weight-1 stratum == stratifiedSampleMd5 membership with same salt
    val m1 = Sampling.mixWeightsMd5(df, "doc_id", "lang", Map("zh" -> 0.25), 0.0, salt = "t")
      .filter(col("lang") === "zh").select("doc_id").collect().map(_.getLong(0)).toSet
    val m2 = Sampling.stratifiedSampleMd5(df, "doc_id", "lang", Map("zh" -> 0.25), 0.0, salt = "t")
      .filter(col("lang") === "zh").select("doc_id").collect().map(_.getLong(0)).toSet
    m1 shouldBe m2
  }

  "Sampling.assignSplitsMd5" should "partition disjointly, exhaustively, and stably" in {
    import spark.implicits._
    val df = (1L to 2000L).toDF("doc_id")
    val out = Sampling.assignSplitsMd5(df, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "t")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    out.length shouldBe 2000 // fractions sum to 1: exhaustive
    out.map(_._1).distinct.length shouldBe 2000 // one split per key: disjoint
    val byName = out.groupBy(_._2).view.mapValues(_.length).toMap
    byName("train").toDouble shouldBe (1600.0 +- 120.0)
    byName("val").toDouble shouldBe (200.0 +- 70.0)
    // growing train later keeps earlier-listed splits FIXED
    val before = Sampling.assignSplitsMd5(df, "doc_id",
      Seq("val" -> 0.1, "test" -> 0.1, "train" -> 0.5), salt = "t")
      .filter(col("split") =!= "train").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val after = Sampling.assignSplitsMd5(df, "doc_id",
      Seq("val" -> 0.1, "test" -> 0.1, "train" -> 0.8), salt = "t")
      .filter(col("split") =!= "train").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    after shouldBe before
    // fractions summing under 1 hold out the remainder explicitly
    Sampling.assignSplitsMd5(df, "doc_id", Seq("train" -> 0.5), salt = "t")
      .count() should be < 2000L
    an[IllegalArgumentException] should be thrownBy
      Sampling.assignSplitsMd5(df, "doc_id", Seq("a" -> 0.8, "b" -> 0.4))
    // re-splitting already-assigned output would silently overwrite the
    // split column — must fail loud like copy_idx/shard collisions do
    an[IllegalArgumentException] should be thrownBy
      Sampling.assignSplitsMd5(
        Sampling.assignSplitsMd5(df, "doc_id", Seq("train" -> 1.0)),
        "doc_id", Seq("train" -> 1.0))
  }

  "Sampling.shardAssignMd5" should "assign balanced shards with dense deterministic positions" in {
    import spark.implicits._
    val df = (1L to 1000L).toDF("doc_id")
    val out = Sampling.shardAssignMd5(df, numShards = 8, "doc_id", salt = "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.length shouldBe 1000
    val byShard = out.groupBy(_._2)
    byShard.keySet.subsetOf((0L until 8L).toSet) shouldBe true
    // positions are dense 0..n-1 within each shard
    byShard.foreach { case (_, rows) =>
      rows.map(_._3).sorted.toSeq shouldBe (0L until rows.length).toSeq
    }
    // roughly balanced (md5 uniformity): every shard within 2x of mean
    byShard.values.map(_.length).min should be > 50
    // deterministic across repartitionings
    val again = Sampling.shardAssignMd5(df.repartition(7), 8, "doc_id", salt = "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    again.toSeq shouldBe out.sortBy(_._1).toSeq
  }

  "Sampling.capPerGroup" should "keep the best n per group under (score desc, id asc)" in {
    import spark.implicits._
    // group a: scores 3,2,2,1 with a tie at 2 -> cap 2 keeps id 10 (3.0)
    // then id 11 (2.0, lower id wins the tie); group b is under the cap
    val df = Seq(
      ("a", 10L, 3.0), ("a", 12L, 2.0), ("a", 11L, 2.0), ("a", 13L, 1.0),
      ("b", 20L, 5.0)).toDF("source", "doc_id", "score")
    val got = Sampling.capPerGroup(df, n = 2, groupCol = "source", scoreCol = "score")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    got.toSeq shouldBe Seq(
      ("a", 10L, 3.0, 1L), ("a", 11L, 2.0, 2L), ("b", 20L, 5.0, 1L))
    // deterministic across partitionings (the heap merge is associative)
    val again = Sampling.capPerGroup(df.repartition(5), 2, "source", "score")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    again.toSeq shouldBe got.toSeq
  }

  it should "rank string ids lexically, drop unrankable rows, reject other id types" in {
    import spark.implicits._
    // string ids (URLs — the common crawl-data case): lexical ASC
    // tiebreak at score 2.0 keeps "u/10" over "u/9"; null score and
    // null id rows cannot be ranked and are dropped, not crashed on
    val df = Seq(
      ("a", "u/9", Some(2.0)), ("a", "u/10", Some(2.0)), ("a", "u/5", Some(3.0)),
      ("a", "u/drop", None), ("b", null.asInstanceOf[String], Some(9.0)),
      ("b", "u/1", Some(1.0))).toDF("source", "doc_id", "score")
    val got = Sampling.capPerGroup(df, n = 2, groupCol = "source", scoreCol = "score")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    got.toSeq shouldBe Seq(
      ("a", "u/5", 3.0, 1L), ("a", "u/10", 2.0, 2L), ("b", "u/1", 1.0, 1L))
    // unsupported id types fail loud at plan time, not mid-job
    val bad = Seq(("a", Array(1.0), 1.0)).toDF("source", "doc_id", "score")
    an[IllegalArgumentException] should be thrownBy
      Sampling.capPerGroup(bad, 1, "source", "score")
    // non-numeric scores fail loud too
    val badScore = Seq(("a", 1L, "high")).toDF("source", "doc_id", "score")
    an[IllegalArgumentException] should be thrownBy
      Sampling.capPerGroup(badScore, 1, "source", "score")
  }

  "AsOf.asofJoin" should "attach the latest at-or-before right row per key, ties to greatest seq" in {
    import spark.implicits._
    val left = Seq(
      (100L, "u1", 10L), // before any right row -> null payload
      (101L, "u1", 20L), // exactly at a right ts -> matches it
      (102L, "u1", 35L), // between rights -> latest preceding
      (103L, "u2", 50L), // tie on right ts -> greatest event_id wins
      (104L, "u3", 50L)  // key with no right rows at all
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, "u1", 20L, "a"),
      (2L, "u1", 30L, "b"),
      (3L, "u2", 40L, "c"),
      (4L, "u2", 40L, "d"), // same (key, ts) as 3 -> seq 4 must win
      (5L, "u1", 36L, "late") // after left 102's ts: must NOT match it
    ).toDF("event_id", "user_id", "ts", "tag")
    def run(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      AsOf.asofJoin(l, r, "user_id", "ts", Seq("event_id", "tag"), "event_id")
        .collect()
        .map(x => (x.getLong(0), Option(x.get(3)).map(_.asInstanceOf[Long]),
          Option(x.getString(4))))
        .sortBy(_._1).toSeq
    val got = run(left, right)
    got shouldBe Seq(
      (100L, None, None),
      (101L, Some(1L), Some("a")),
      (102L, Some(2L), Some("b")),
      (103L, Some(4L), Some("d")),
      (104L, None, None))
    // null-ts / null-key right rows are unmatchable and ignored; the
    // result is partitioning-invariant
    val dirtyRight = right.unionByName(Seq(
      (9L, null.asInstanceOf[String], 5L, "nokey"))
      .toDF("event_id", "user_id", "ts", "tag"))
    run(left.repartition(5), dirtyRight.repartition(3)) shouldBe got
    // left columns pass through unchanged, payloads get the asof_ prefix
    AsOf.asofJoin(left, right, "user_id", "ts", Seq("tag"), "event_id")
      .columns.toSeq shouldBe Seq("event_id", "user_id", "ts", "asof_tag")
  }

  "Packing.packChunks" should "assign contiguous global offsets regardless of input partitioning" in {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, ""), (3L, "d e"), (4L, "f g h i"), (5L, "j"))
      .toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) = Packing.packChunks(d, budget = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    val got = run(df)
    got shouldBe Seq(
      (1L, 3L, 0L, 0L, 0L), // tokens [0,3) in chunk 0
      (2L, 0L, 3L, 0L, 0L), // empty doc collapses to its start chunk
      (3L, 2L, 3L, 0L, 1L), // tokens [3,5) straddle the chunk-0/1 boundary
      (4L, 4L, 5L, 1L, 2L), // tokens [5,9) straddle 1/2
      (5L, 1L, 9L, 2L, 2L))
    // the prefix-sum machinery must be layout-invariant
    run(df.repartition(7)) shouldBe got
    run(df.coalesce(1)) shouldBe got
  }

  "TextOps" should "count tokens robustly at the edges" in {
    import spark.implicits._
    val df = Seq("", "  ", "one", " a  b\tc ", null.asInstanceOf[String]).toDF("text")
    df.select(TextOps.tokenCount(col("text")).as("n")).collect().map(_.getInt(0)).toSeq shouldBe
      Seq(0, 0, 1, 3, 0)
  }
}
